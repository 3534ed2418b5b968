"""Binary triple codec.

Wire format (reference encode.go:100-142, decode.go:150-239):

    bool  isSubBnode            (1 byte, 0/1)
    u32be len + subject bytes
    u32be len + predicate bytes
    u8    objType: 0=resource 1=literal 2=bnode 3=literal+lang
    [u32be len + (datatype | langtag) bytes]   (absent for res/bnode)
    u32be len + value bytes

String-typed literal values are escaped on encode and unescaped on
decode (encode.go:124-128, decode.go:210-214); lang literals decode
with an empty datatype tag (decode.go:192-198) — identity is
unaffected since lang keys omit the type.

Spark integration: decode reads `binaryFile` rows and cursor-decodes
each blob inside `mapInPandas` (one file -> many triples); encode
produces a BinaryType column per triple via mapInPandas, with a
driver-side concatenator for golden tests and a per-partition file
sink for scale.
"""

from __future__ import annotations

import json
import re
import struct
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from triplestore_spark import schema as S
from triplestore_spark.functions.keys import with_keys
from triplestore_spark.session import local_frame
from triplestore_spark.sources.ntriples import (
    escape_string_literal,
    unescape_string_literal,
)

RESOURCE_TAG = 0
LITERAL_TAG = 1
BNODE_TAG = 2
LITERAL_LANG_TAG = 3


def encode_triple_bytes(row: tuple) -> bytes:
    sub, is_bnode, pred, kind, value, typ, lang = row
    out = bytearray()
    out.append(1 if is_bnode else 0)
    sb = sub.encode("utf-8")
    out += struct.pack(">I", len(sb)) + sb
    pb = pred.encode("utf-8")
    out += struct.pack(">I", len(pb)) + pb
    if kind == S.KIND_LITERAL:
        if lang:
            out.append(LITERAL_LANG_TAG)
            lb = lang.encode("utf-8")
            out += struct.pack(">I", len(lb)) + lb
        else:
            out.append(LITERAL_TAG)
            tb = typ.encode("utf-8")
            out += struct.pack(">I", len(tb)) + tb
        v = escape_string_literal(value) if typ == S.XSD_STRING else value
        vb = v.encode("utf-8")
        out += struct.pack(">I", len(vb)) + vb
    elif kind == S.KIND_BNODE:
        out.append(BNODE_TAG)
        vb = value.encode("utf-8")
        out += struct.pack(">I", len(vb)) + vb
    else:
        out.append(RESOURCE_TAG)
        vb = value.encode("utf-8")
        out += struct.pack(">I", len(vb)) + vb
    return bytes(out)


class BinaryDecodeError(ValueError):
    pass


def decode_binary_bytes(blob: bytes) -> list[tuple]:
    """Decode a whole binary document into TRIPLE_FIELDS tuples."""
    out = []
    pos = 0
    n = len(blob)

    def word():
        nonlocal pos
        if pos + 4 > n:
            raise BinaryDecodeError("truncated word length")
        (ln,) = struct.unpack_from(">I", blob, pos)
        pos += 4
        if pos + ln > n:
            raise BinaryDecodeError(f"cannot decode word of length {ln}")
        w = blob[pos : pos + ln].decode("utf-8")
        pos += ln
        return w

    while pos < n:
        is_bnode = blob[pos] != 0
        pos += 1
        sub = word()
        pred = word()
        if pos >= n:
            raise BinaryDecodeError("truncated object type")
        obj_type = blob[pos]
        pos += 1
        if obj_type == RESOURCE_TAG:
            out.append((sub, is_bnode, pred, S.KIND_RESOURCE, word(), "", ""))
        elif obj_type == BNODE_TAG:
            out.append((sub, is_bnode, pred, S.KIND_BNODE, word(), "", ""))
        elif obj_type == LITERAL_LANG_TAG:
            lang = word()
            val = unescape_string_literal(word())
            # decoded lang literal keeps an empty datatype
            # (reference decode.go:192-198)
            out.append((sub, is_bnode, pred, S.KIND_LITERAL, val, "", lang))
        elif obj_type == LITERAL_TAG:
            typ = word()
            val = word()
            if typ == S.XSD_STRING:
                val = unescape_string_literal(val)
            out.append((sub, is_bnode, pred, S.KIND_LITERAL, val, typ, ""))
        else:
            raise BinaryDecodeError(f"unknown object tag {obj_type}")
    return out


def read_binary(spark: SparkSession, path: str) -> DataFrame:
    """binaryFile scan -> per-file cursor decode in Arrow batches.

    Parallelism cap: binaryFile gives one task per file, matching the
    reference's one-goroutine-per-reader model (decode.go:241-295) —
    right for many smallish files (the CLI and the encode sink write
    per-partition files). For FEW LARGE files use read_binary_split
    below: it range-splits single files on record boundaries so a
    1 TB .bin parallelizes."""
    files = spark.read.format("binaryFile").load(path)
    return decode_binary_blobs_df(files, col="content")


def decode_binary_blobs_df(df: DataFrame, col: str = "bin") -> DataFrame:
    """Decode a BinaryType column of binary-codec documents (one or
    many triples per blob) into keyed triples — the DataFrame-to-
    DataFrame round-trip counterpart of read_binary (reference
    decode.go:150-225), used by the bin_roundtrip gate."""

    def _decode(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = []
            for blob in pdf[col]:
                rows.extend(decode_binary_bytes(bytes(blob)))
            yield pd.DataFrame(rows, columns=S.TRIPLE_FIELDS)

    return with_keys(df.select(col).mapInPandas(_decode, schema=S.TRIPLE_SCHEMA))


def encode_binary_df(df: DataFrame) -> DataFrame:
    """Triples -> one BinaryType blob per triple."""

    def _encode(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            blobs = [
                encode_triple_bytes(row)
                for row in zip(
                    pdf["subject"],
                    pdf["subject_is_bnode"],
                    pdf["predicate"],
                    pdf["object_kind"],
                    pdf["object_value"],
                    pdf["object_type"],
                    pdf["object_lang"],
                )
            ]
            yield pd.DataFrame({"bin": blobs})

    out_schema = T.StructType([T.StructField("bin", T.BinaryType())])
    return df.select(*S.TRIPLE_FIELDS).mapInPandas(_encode, out_schema)


def encode_binary_triples(df: DataFrame) -> bytes:
    """Driver-side concatenated binary document (golden tests / CLI),
    sorted by tkey descending for determinism."""
    from pyspark.sql import functions as F

    rows = (
        with_keys(df.select(*S.TRIPLE_FIELDS))
        .orderBy(F.desc("tkey"))
        .select(*S.TRIPLE_FIELDS)
        .collect()
    )
    return b"".join(encode_triple_bytes(tuple(r)) for r in rows)


class _FileWindow:
    """Forward-moving byte window over a seekable file: absolute-offset
    reads backed by chunked buffering, so the split scanner below never
    issues 4-byte syscalls and never holds more than a few chunks."""

    def __init__(self, f, flen: int, chunk: int = 1 << 20):
        self._f = f
        self._flen = flen
        self._chunk = chunk
        self._start = 0
        self._buf = b""

    def bytes_at(self, off: int, n: int) -> bytes:
        if off + n > self._flen:
            raise BinaryDecodeError("read past end of file")
        if off < self._start:
            # resync stepped back before the buffered region: restart
            self._start, self._buf = off, b""
        have_end = self._start + len(self._buf)
        if off > have_end:
            self._start, self._buf, have_end = off, b"", off
        while have_end < off + n:
            self._f.seek(have_end)
            data = self._f.read(max(self._chunk, off + n - have_end))
            if not data:
                raise BinaryDecodeError("unexpected EOF")
            self._buf += data
            have_end += len(data)
        if off - self._start > 4 * self._chunk:
            self._buf = self._buf[off - self._start :]
            self._start = off
        rel = off - self._start
        return self._buf[rel : rel + n]


# Word-length sanity cap for the split scanner: the reference's own
# test corpus tops out at 65,000-char words (codec_test.go), and a
# length prefix in the hundreds of MB scanned at an arbitrary resync
# offset is overwhelmingly a misaligned read of text bytes (e.g.
# 'http' = 0x68747470 = 1.6 GiB) — without the cap a single candidate
# offset could buffer gigabytes before failing validation.
DEFAULT_MAX_WORD_BYTES = 64 << 20


def _scan_record(
    w: _FileWindow,
    off: int,
    flen: int,
    max_word: Optional[int] = None,
) -> tuple[tuple, int]:
    """Parse ONE record at absolute offset `off`; returns (triple
    fields, next offset). Raises BinaryDecodeError on anything that is
    not a well-formed record — the resync scanner treats that as
    'off is not a boundary'.

    The bool byte is LENIENT in every mode — any nonzero byte is a
    bnode subject, exactly like decode_binary_bytes above and the
    reference (Go binary.Read into bool, decode.go:152) — so split
    parsing and resync validation accept precisely the records the
    whole-file reader accepts (a stricter validator here silently
    DROPPED lenient records near range boundaries). Resync selectivity
    comes from the object tag (4/256), length sanity (`max_word`,
    validation only), and utf-8 validity of every word across the
    chain. `max_word=None` means uncapped (parse mode — the wire
    format allows words up to 4 GiB and the whole-file reader imposes
    no cap)."""
    b0 = w.bytes_at(off, 1)[0]
    pos = off + 1
    if max_word is None:
        max_word = flen

    def word() -> str:
        nonlocal pos
        (ln,) = struct.unpack(">I", w.bytes_at(pos, 4))
        pos += 4
        if ln > flen - pos or ln > max_word:
            raise BinaryDecodeError(f"cannot decode word of length {ln}")
        try:
            s = w.bytes_at(pos, ln).decode("utf-8")
        except UnicodeDecodeError as e:
            raise BinaryDecodeError(str(e)) from e
        pos += ln
        return s

    is_bnode = b0 != 0
    sub = word()
    pred = word()
    tag = w.bytes_at(pos, 1)[0]
    pos += 1
    if tag == RESOURCE_TAG:
        row = (sub, is_bnode, pred, S.KIND_RESOURCE, word(), "", "")
    elif tag == BNODE_TAG:
        row = (sub, is_bnode, pred, S.KIND_BNODE, word(), "", "")
    elif tag == LITERAL_LANG_TAG:
        lang = word()
        row = (sub, is_bnode, pred, S.KIND_LITERAL,
               unescape_string_literal(word()), "", lang)
    elif tag == LITERAL_TAG:
        typ = word()
        val = word()
        if typ == S.XSD_STRING:
            val = unescape_string_literal(val)
        row = (sub, is_bnode, pred, S.KIND_LITERAL, val, typ, "")
    else:
        raise BinaryDecodeError(f"unknown object tag {tag}")
    return row, pos


def _find_boundary(
    w: _FileWindow,
    start: int,
    end: int,
    flen: int,
    validate_records: int,
    max_word: int = DEFAULT_MAX_WORD_BYTES,
) -> Optional[int]:
    """Smallest record boundary in [start, end): the wire format has no
    sync marker (reference encode.go:100-142), so candidate offsets are
    validated by parsing a CHAIN of `validate_records` records (or to
    EOF) — the object tag, length sanity (the max_word cap), and
    utf-8 validity of every word must all hold across the chain, which
    makes a false boundary inside a record body vanishingly
    unlikely."""
    if start == 0:
        return 0
    o = start
    while o < min(end, flen):
        try:
            pos = o
            for _ in range(validate_records):
                _, pos = _scan_record(w, pos, flen, max_word)
                if pos >= flen:
                    break
            return o
        except BinaryDecodeError:
            o += 1
    return None


def _open_split_path(p: str):
    """Worker-side open of a path taken verbatim from the Hadoop FS
    listing — normalizes Hadoop-flavored URI spellings pyarrow doesn't
    know (ADVICE r3: s3a://, file://host/...)."""
    if p.startswith("file:"):
        from urllib.parse import urlparse

        u = urlparse(p)
        # file:///x and file:/x -> /x; a non-empty authority
        # (file://host/x) is not a local path — reject loudly instead
        # of silently reading '/host/x'. The path is used VERBATIM (no
        # percent-decoding): Hadoop FS listings emit raw names, so a
        # file literally named 'a%20b.bin' must stay 'a%20b.bin'
        # (review r4 finding).
        if u.netloc not in ("", "localhost"):
            raise BinaryDecodeError(
                f"file: URI with remote authority not supported: {p}"
            )
        return open(u.path, "rb")
    if "://" in p:
        from pyarrow import fs as pafs

        scheme, rest = p.split("://", 1)
        # Hadoop scheme spellings -> pyarrow's: s3a/s3n are the Hadoop
        # S3 connectors (pyarrow speaks 's3'); abfs/wasb (Azure) and
        # kin get a clear error naming the scheme rather than a
        # from_uri stack trace.
        alias = {"s3a": "s3", "s3n": "s3"}
        scheme = alias.get(scheme, scheme)
        if scheme in ("abfs", "abfss", "wasb", "wasbs"):
            raise BinaryDecodeError(
                f"unsupported filesystem scheme '{scheme}' for split "
                f"binary reads: {p} (pyarrow has no Azure FS driver; "
                "read via read_binary's whole-file path or copy to a "
                "supported store)"
            )
        f, inner = pafs.FileSystem.from_uri(f"{scheme}://{rest}")
        return f.open_input_file(inner)
    return open(p, "rb")


def _scan_file_range(
    path: str,
    start: int,
    end: int,
    flen: int,
    validate_records: int = 4,
    tolerant: bool = False,
    max_word: int = DEFAULT_MAX_WORD_BYTES,
    keep_rows: bool = True,
) -> tuple[list[tuple], Optional[int], int, int]:
    """Decode the records whose first byte lies in [start, end);
    returns (rows, first_boundary, parse_end, n_records). A record
    straddling `end` is completed by this range (its owner); the next
    range's boundary scan skips over its tail. first_boundary is None
    when no record starts inside the range (the range is interior to
    one giant record — or unparseable; scan_ranges distinguishes the
    two globally). `max_word` caps word lengths during boundary
    VALIDATION only — confirmed-boundary parsing is uncapped, like the
    whole-file reader. keep_rows=False counts records without
    materializing them (the diagnostic path)."""

    rows: list[tuple] = []
    n = 0
    with _open_split_path(path) as f:
        w = _FileWindow(f, flen)
        o = _find_boundary(w, start, end, flen, validate_records, max_word)
        if o is None:
            return rows, None, start, 0
        pos = o
        while pos < min(end, flen):
            try:
                row, pos = _scan_record(w, pos, flen)
            except BinaryDecodeError:
                if not tolerant:
                    raise
                # diagnostic mode: report how far the chain reached —
                # the driver-side coverage walk turns the shortfall
                # into a precise gap error
                break
            n += 1
            if keep_rows:
                rows.append(row)
    return rows, o, pos, n


def _decode_file_range(
    path: str,
    start: int,
    end: int,
    flen: int,
    validate_records: int = 4,
    max_word: int = DEFAULT_MAX_WORD_BYTES,
) -> list[tuple]:
    return _scan_file_range(
        path, start, end, flen, validate_records, max_word=max_word
    )[0]


def _list_files(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """(path, length, mtime_ms) of every data file under `path`
    (Hadoop FS listing — dir, glob, or single file)."""
    from triplestore_spark.streaming.ingest import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    files: list[tuple[str, int, int]] = []

    def _add(status):
        if status.isDirectory():
            for st in fs.listStatus(status.getPath()):
                _add(st)
        else:
            name = status.getPath().getName()
            if not name.startswith(("_", ".")):
                files.append(
                    (
                        status.getPath().toString(),
                        status.getLen(),
                        status.getModificationTime(),
                    )
                )

    for st in fs.globStatus(jpath) or []:
        _add(st)
    return sorted(files)


def _list_ranges(
    spark: SparkSession,
    path: str,
    split_size: int,
    files: Optional[list[tuple[str, int, int]]] = None,
) -> list[tuple[str, int, int, int]]:
    """(path, start, end, file_length) ranges of `split_size` bytes
    over the given files (default: every data file under `path`)."""
    if files is None:
        files = _list_files(spark, path)
    ranges = []
    for p, flen, _mtime in files:
        start = 0
        while start < flen:
            ranges.append((p, start, min(start + split_size, flen), flen))
            start += split_size
    return ranges


def _ranges_frame(
    spark: SparkSession, ranges: list[tuple[str, int, int, int]]
) -> DataFrame:
    """The (path, start, end, flen) ranges, one per partition, so each
    range decodes in its own task. Range(0, n, 1, n) puts exactly row i
    in partition i, and the broadcast join keeps that partitioning; a
    round-robin repartition of the ranges does not (each input
    partition starts its round-robin at its own offset, so ranges
    collide and fewer tasks run, depending on the core count)."""
    from pyspark.sql import functions as F

    table = local_frame(
        spark,
        [(i, *r) for i, r in enumerate(ranges)],
        "id long, path string, start long, end long, flen long",
    )
    n = len(ranges)
    return (
        spark.range(0, n, 1, n)
        .join(F.broadcast(table), "id")
        .select("path", "start", "end", "flen")
    )


COVERAGE_MANIFEST_NAME = "_split_coverage.json"


def _manifest_location(spark: SparkSession, path: str) -> str:
    """Where the coverage manifest for `path` lives: inside the
    directory being read, or next to a single file / glob. The name
    starts with '_' so _list_files never treats it as data."""
    from triplestore_spark.streaming.ingest import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    try:
        if fs.getFileStatus(jpath).isDirectory():
            return path.rstrip("/") + "/" + COVERAGE_MANIFEST_NAME
    except Exception:  # noqa: BLE001 - glob patterns have no status
        pass
    parent = jpath.getParent()
    if parent is None:
        return COVERAGE_MANIFEST_NAME
    return parent.toString() + "/" + COVERAGE_MANIFEST_NAME


def _coverage_key(split_size: int, validate_records: int, max_word: int) -> str:
    # the proof is specific to the range decomposition and validation
    # parameters — a different split size re-verifies
    return f"s{split_size}.v{validate_records}.w{max_word}"


def _load_coverage_manifest(spark: SparkSession, loc: str) -> dict:
    from triplestore_spark.streaming.ingest import fs_exists, fs_read_text

    try:
        if not fs_exists(spark, loc):
            return {}
        doc = json.loads(fs_read_text(spark, loc))
        return doc if isinstance(doc, dict) else {}
    except Exception:  # noqa: BLE001 - a broken manifest just re-verifies
        return {}


def _save_coverage_manifest(spark: SparkSession, loc: str, doc: dict) -> None:
    """Best-effort atomic write (tmp + rename), MERGED with whatever is
    on disk at save time: two concurrent readers verifying disjoint new
    files would otherwise be last-writer-wins and silently drop each
    other's entries (VERDICT r4 #7 — harmless for correctness, but it
    re-pays the 2x IO the manifest exists to avoid). On a per-path
    conflict the entry with the newer mtime wins (a re-verified changed
    file beats a stale record regardless of write order). The re-read+
    union is not transactional — a writer landing between our re-read
    and rename can still be dropped; the window is now one small-file
    write rather than the whole verification pass. Read-only stores
    simply don't amortize — verification already succeeded this run."""
    from triplestore_spark.streaming.ingest import _hadoop_fs, fs_write_text

    try:
        current = _load_coverage_manifest(spark, loc)
        for path, ent in doc.items():
            cur = current.get(path)
            if (
                not isinstance(cur, dict)
                or cur.get("mtime", -1) <= ent.get("mtime", -1)
            ):
                current[path] = ent
        tmp = loc + ".tmp"
        fs_write_text(spark, tmp, json.dumps(current, sort_keys=True))
        fs, jtmp = _hadoop_fs(spark, tmp)
        jloc = _hadoop_fs(spark, loc)[1]
        fs.delete(jloc, False)
        if not fs.rename(jtmp, jloc):
            fs.delete(jtmp, False)
    except Exception:  # noqa: BLE001 - amortization is optional
        pass


def read_binary_split(
    spark: SparkSession,
    path: str,
    split_size: int = 128 << 20,
    validate_records: int = 4,
    max_word_bytes: int = DEFAULT_MAX_WORD_BYTES,
    verify_coverage: bool | str = True,
) -> DataFrame:
    """Record-boundary-splitting binary reader: ONE large .bin file
    parallelizes across tasks (read_binary's one-task-per-file cap —
    the reference's per-reader model, decode.go:129-148 — removed).

    The driver lists files via the Hadoop FileSystem API and emits
    (path, start, end, length) ranges of `split_size` bytes; each task
    resyncs onto the first record boundary at-or-after its range start
    by chained parse validation (no sync marker exists in the format)
    and decodes every record starting inside its range, following a
    final straddling record into the next range. Output is identical
    to read_binary — asserted by tests/test_codec.py with the file
    forced into >1 task via spark_partition_id.

    Caveats a deployment must know:
    - Workers open files with pyarrow's FileSystem (or plain open for
      file: paths): hdfs:// needs libhdfs in the Python worker env and
      s3:// uses pyarrow's native S3 with environment credentials —
      Hadoop-side auth config (kerberos, fs.s3a.*) does NOT carry
      over. The driver-side listing always uses the Hadoop FS.
    - Corruption inside a range fails that task loudly, but a range in
      which NO candidate boundary validates contributes zero rows
      (indistinguishable locally from a range interior to one giant
      record). For untrusted input run verify_binary_coverage(), which
      proves the record chain tiles every file end-to-end.
    - Boundary VALIDATION caps word lengths at `max_word_bytes`
      (64 MiB default) so a misaligned 4-byte text read can't buffer
      gigabytes per resync candidate; confirmed-boundary parsing is
      uncapped. A legitimate record with a word beyond the cap that
      sits exactly at a range start would be skipped by resync — raise
      max_word_bytes for such data; verify_binary_coverage detects the
      gap either way.
    - With no sync marker, a resync can in principle lock onto a FALSE
      boundary whose misaligned first "record" bridges into the true
      record chain (adversarial/ASCII-heavy payloads; found by fuzzing
      — real corpora with IRI-sized words make this astronomically
      unlikely, but not impossible). `verify_coverage=True` (default)
      therefore first proves the per-range chains tile each file with
      no gap or overlap — a metadata-only parallel pass — and on any
      inconsistency falls back to the sequential per-file reader,
      which is exact by construction (and raises on genuinely corrupt
      data). Set verify_coverage=False to skip the extra read on
      trusted corpora.
    - The proof is AMORTIZED per immutable file (VERDICT r3 #2): a
      passing verification records (length, mtime, split params) per
      file in a _split_coverage.json manifest next to the data, and
      later reads re-verify only files that are new or changed —
      steady-state re-reads of an immutable corpus cost zero extra
      scan instead of 2x IO. The manifest write is best-effort
      (read-only stores just re-verify each run) and MERGES with the
      on-disk manifest at save time so concurrent readers verifying
      disjoint files keep each other's entries; a stale/broken
      manifest re-verifies. Delete the manifest to force a full
      re-proof.
    - TRUST CAVEAT (ADVICE r4): with the manifest, verify_coverage=
      True means 'proven at least once for this (length, mtime,
      params)' — the manifest itself is trusted verbatim, so a
      hand-edited or attacker-writable manifest silently skips the
      proof, and the read path writes the manifest into the source
      directory as a side effect. For untrusted stores pass
      verify_coverage='always': the proof runs unconditionally every
      read (the pre-r4 guarantee) — the manifest is neither read nor
      trusted, though a passing proof still records it for readers
      that do amortize."""
    if verify_coverage not in (True, False, "always"):
        raise ValueError(
            f"verify_coverage={verify_coverage!r} (use True, False or "
            "'always')"
        )
    files = _list_files(spark, path)
    if verify_coverage and files:
        ckey = _coverage_key(split_size, validate_records, max_word_bytes)
        loc = _manifest_location(spark, path)
        manifest = (
            {}
            if verify_coverage == "always"
            else _load_coverage_manifest(spark, loc)
        )
        unverified = [
            (p, flen, mtime)
            for (p, flen, mtime) in files
            if manifest.get(p) != {"len": flen, "mtime": mtime, "key": ckey}
        ]
        if unverified:
            try:
                verify_binary_coverage(
                    spark,
                    path,
                    split_size,
                    validate_records,
                    max_word_bytes,
                    files=unverified,
                )
            except BinaryDecodeError:
                # chain inconsistency: resync is not trustworthy on
                # this data — decode exactly (one task per file);
                # truly corrupt input then fails loudly there
                return read_binary(spark, path)
            for p, flen, mtime in unverified:
                manifest[p] = {"len": flen, "mtime": mtime, "key": ckey}
            _save_coverage_manifest(spark, loc, manifest)
    ranges = _list_ranges(spark, path, split_size, files=files)
    if not ranges:
        return with_keys(local_frame(spark, [], S.TRIPLE_SCHEMA))

    ranges_df = _ranges_frame(spark, ranges)

    vr, mw = validate_records, max_word_bytes

    def _decode(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows: list[tuple] = []
            for p, s, e, fl in zip(
                pdf["path"], pdf["start"], pdf["end"], pdf["flen"]
            ):
                rows.extend(
                    _decode_file_range(p, int(s), int(e), int(fl), vr, mw)
                )
            yield pd.DataFrame(rows, columns=S.TRIPLE_FIELDS)

    return with_keys(ranges_df.mapInPandas(_decode, schema=S.TRIPLE_SCHEMA))


def scan_ranges(
    spark: SparkSession,
    path: str,
    split_size: int = 128 << 20,
    validate_records: int = 4,
    max_word_bytes: int = DEFAULT_MAX_WORD_BYTES,
    files: Optional[list[tuple[str, int, int]]] = None,
) -> DataFrame:
    """Coverage diagnostic for read_binary_split: one row per range —
    (path, start, end, first_boundary, parse_end, n_records).
    `files` restricts the scan to a subset of (path, len, mtime)
    entries (the manifest-amortized verify pass)."""
    from pyspark.sql import types as T

    ranges = _list_ranges(spark, path, split_size, files=files)
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
            T.StructField("first_boundary", T.LongType()),
            T.StructField("parse_end", T.LongType()),
            T.StructField("n_records", T.LongType()),
        ]
    )
    if not ranges:
        return local_frame(spark, [], schema)
    ranges_df = _ranges_frame(spark, ranges)
    vr, mw = validate_records, max_word_bytes

    def _scan(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            out = []
            for p, s, e, fl in zip(
                pdf["path"], pdf["start"], pdf["end"], pdf["flen"]
            ):
                _, first, pend, n = _scan_file_range(
                    p, int(s), int(e), int(fl), vr,
                    tolerant=True, max_word=mw, keep_rows=False,
                )
                out.append((p, int(s), int(e), first, pend, n))
            yield pd.DataFrame(
                out,
                columns=[
                    "path", "start", "end", "first_boundary",
                    "parse_end", "n_records",
                ],
            )

    return ranges_df.mapInPandas(_scan, schema)


def verify_binary_coverage(
    spark: SparkSession,
    path: str,
    split_size: int = 128 << 20,
    validate_records: int = 4,
    max_word_bytes: int = DEFAULT_MAX_WORD_BYTES,
    files: Optional[list[tuple[str, int, int]]] = None,
) -> None:
    """Prove the split decode tiles every file end-to-end: within each
    file, walking ranges in order, every found boundary must equal the
    previous range's parse_end (records chain with no gap — a range
    with no boundary must be interior to a record its predecessor
    followed through), and the final parse_end must be the file
    length. Raises BinaryDecodeError on any gap (silently-undecodable
    bytes: corruption, trailing garbage, or a false resync).
    `files` restricts the proof to a subset of (path, len, mtime)
    entries — read_binary_split passes only not-yet-proven files."""
    rows = sorted(
        scan_ranges(
            spark, path, split_size, validate_records, max_word_bytes,
            files=files,
        ).collect(),
        key=lambda r: (r["path"], r["start"]),
    )
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r["path"], []).append(r)
    for p, rs in by_file.items():
        expected = 0
        for r in rs:
            if r["first_boundary"] is not None:
                if r["first_boundary"] != expected:
                    raise BinaryDecodeError(
                        f"{p}: bytes [{expected}, {r['first_boundary']}) "
                        "belong to no decodable record"
                    )
                expected = r["parse_end"]
            elif r["start"] >= expected:
                raise BinaryDecodeError(
                    f"{p}: range [{r['start']}, {r['end']}) contains no "
                    "decodable record and is not covered by a preceding one"
                )
        flen = rs[-1]["end"]
        if expected != flen:
            raise BinaryDecodeError(
                f"{p}: bytes [{expected}, {flen}) at end of file "
                "belong to no decodable record"
            )


def is_nt_format(head: bytes) -> bool:
    """Format auto-detection: first byte '<' => NTriples
    (reference decode.go:40-47)."""
    return head[:1] == b"<"


_TURTLE_DIRECTIVE = re.compile(
    rb"^\s*(?:#[^\n]*\n\s*)*(?:@prefix|@base|PREFIX[ \t]|BASE[ \t])",
    re.IGNORECASE,
)


def is_turtle_format(head: bytes, path: str = "") -> bool:
    """Beyond the reference's two formats: a .ttl/.turtle extension,
    or a leading @prefix/@base/PREFIX/BASE directive (after comments),
    identifies Turtle. Directive-free Turtle that happens to be valid
    NT decodes identically through the NT path (NT is a Turtle
    subset), so the sniff only needs to catch what NT would reject."""
    if path.rsplit(".", 1)[-1].lower() in ("ttl", "turtle"):
        return True
    return bool(_TURTLE_DIRECTIVE.match(head))


def read_auto(spark: SparkSession, path: str) -> DataFrame:
    """Auto-dispatch decode per file head byte (reference decode.go:29-35;
    Turtle added beyond the reference — see is_turtle_format).

    Reads each file once via binaryFile; NT files are split into lines
    inside the decode UDF.
    """
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )

    def _decode(it: Iterator) -> Iterator:
        import pandas as pd

        from triplestore_spark.sources.ntriples import parse_nt_text
        from triplestore_spark.sources.turtle import parse_turtle_text

        for pdf in it:
            rows = []
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                blob = bytes(blob)
                if is_turtle_format(blob[:4096], str(fpath)):
                    rows.extend(
                        parse_turtle_text(
                            blob.decode("utf-8"), fname=str(fpath)
                        )
                    )
                elif is_nt_format(blob):
                    rows.extend(parse_nt_text(blob.decode("utf-8")))
                else:
                    rows.extend(decode_binary_bytes(blob))
            yield pd.DataFrame(rows, columns=S.TRIPLE_FIELDS)

    return with_keys(files.mapInPandas(_decode, schema=S.TRIPLE_SCHEMA))
