"""Candidate triple extraction over interleaved spans.

The generalization of the reference's struct-melt entry point
(reference struct.go:26-85: one value -> one triple per field/element)
to unstructured input: documents (doc_id, spans) -> candidate triple
rows. Mentions stay as raw surface forms here; canonicalization is
the resolve stage's job.

All extraction is Catalyst (explode + split + higher-order functions)
— the hot path stays in whole-stage codegen; there is no Python UDF
anywhere in extract/resolve.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.pipeline import spec


def extract_mention_surfaces_direct(
    docs: DataFrame, candidate_surfaces: list[str] | None = None
) -> DataFrame:
    """(doc_id, surface) candidate mentions, computed straight from the
    raw document text. The corpus text spans (build_corpus) are
    consecutive word chunks re-joined with single spaces, so the token
    multiset of all text spans IS split(text, ' ') — building the chunk
    strings only to tokenize them again is pure waste on the hot path.

    With `candidate_surfaces` (the dictionary's surface vocabulary,
    small enough to inline as a literal array) the explode is pruned
    JVM-side with array_intersect — per document only the distinct
    dictionary hits survive instead of every token occurrence (~10x
    fewer rows into the resolve join). Without it, one row per token
    occurrence (the general path for large vocabularies, where the
    resolve join is the detector)."""
    words = F.split(F.col("text"), " ")
    if candidate_surfaces is not None:
        surfaces = F.array_intersect(
            words,
            F.array(*[F.lit(x) for x in sorted(candidate_surfaces)]),
        )
    else:
        surfaces = words
    return docs.select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("doc_id"),
        F.explode(surfaces).alias("surface"),
    )


def extract_all_candidates_direct(
    docs: DataFrame, mapping: dict[str, str]
) -> DataFrame:
    """All candidate triples of the documents in ONE projection + ONE
    explode: T1 mentions resolved through `mapping` (surface -> iri,
    inlined as a literal map; an empty mapping gives no mention
    triples), T2 media and T3-T6 metadata.

    Why one pass: a union of per-stream extractors scans and shuffles
    the documents once PER BRANCH — column pruning projects each
    branch differently, so exchange reuse cannot collapse them
    (plans/r07/q1_pipeline_count_before.txt ran three single-task
    scans; plans/r07/q1_pipeline_count_mid.txt carried two
    RoundRobinPartitioning exchanges of the same documents) — and it
    splits the text once per branch. Building the triple arrays in one
    pass and exploding their concat gives one scan, one exchange, one
    Generate (guide §1.2-1 'remove unnecessary passes', §2.4 'remove
    shuffles outright'). A dictionary too large to inline resolves
    through pipeline.resolve.resolve_mentions over
    extract_mention_surfaces_direct instead, unioned with this pass
    under an empty mapping (pipeline.run.candidate_triples).
    """
    W = spec.CHUNK_WORDS
    doc = F.concat(F.lit("doc:"), F.col("doc_id"))
    words = F.split(F.col("text"), " ")
    n_chunks = F.floor((F.size(words) + W - 1) / W).cast("int")
    title = F.array_join(F.slice(words, 1, spec.TITLE_WORDS), " ")

    def t(pred, kind, value, typ="", lang=""):
        return F.struct(
            doc.alias("subject"),
            F.lit(False).alias("subject_is_bnode"),
            (F.lit(pred) if isinstance(pred, str) else pred).alias("predicate"),
            (F.lit(kind) if isinstance(kind, str) else kind).alias("object_kind"),
            value.alias("object_value"),
            (F.lit(typ) if isinstance(typ, str) else typ).alias("object_type"),
            (F.lit(lang) if isinstance(lang, str) else lang).alias("object_lang"),
        )

    empty = F.array().cast(
        "array<struct<subject:string,subject_is_bnode:boolean,"
        "predicate:string,object_kind:string,object_value:string,"
        "object_type:string,object_lang:string>>"
    )
    streams = []
    if mapping:
        # T1 mentions: array_intersect returns the distinct dictionary
        # hits (⊆ mapping keys, so the map lookup never misses);
        # coalesce guards a NULL text, which has no mentions
        m = F.create_map(
            *[F.lit(x) for kv in sorted(mapping.items()) for x in kv]
        )
        streams.append(
            F.coalesce(
                F.transform(
                    F.array_intersect(
                        words, F.array(*[F.lit(x) for x in sorted(mapping)])
                    ),
                    lambda s: t(spec.PRED_MENTIONS, S.KIND_RESOURCE, m[s]),
                ),
                empty,
            )
        )
    # T2 media: chunk index j < n_chunks with (doc_id*31 + j) % MEDIA_EVERY == 0
    media = F.coalesce(
        F.transform(
            F.filter(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda j: (F.col("doc_id") * 31 + j) % spec.MEDIA_EVERY == 0,
            ),
            lambda j: t(
                spec.PRED_HAS_MEDIA,
                S.KIND_RESOURCE,
                F.concat(F.lit("media://"), F.col("doc_id"), F.lit("/"), j),
            ),
        ),
        empty,
    )
    # T3-T6 metadata
    metadata = F.array(
        t(
            spec.PRED_SOURCE,
            S.KIND_RESOURCE,
            F.concat(F.lit("src:"), F.col("source")),
        ),
        t(
            spec.PRED_TITLE,
            S.KIND_LITERAL,
            title,
            typ=S.XSD_STRING,
            lang=F.col("lang"),
        ),
        t(
            spec.PRED_NCHARS,
            S.KIND_LITERAL,
            F.col("n_chars").cast("string"),
            typ=S.XSD_INTEGER,
        ),
        t(spec.PRED_TYPE, S.KIND_RESOURCE, F.lit(spec.TYPE_DOCUMENT)),
    )
    streams += [media, metadata]
    return docs.select(F.explode(F.concat(*streams)).alias("t")).select("t.*")
