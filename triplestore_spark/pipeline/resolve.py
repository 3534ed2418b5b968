"""Entity resolution: canonicalize mention surfaces via dictionary join.

Two physical strategies for the same logical join, chosen by
dictionary size (SURVEY.md §2.3 J4):

- broadcast hash join (default): the gazetteer/dictionary is tiny
  relative to executor memory — ship it to every task, no shuffle of
  the (huge) mention stream at all.
- salted repartition join: for dictionaries too big to broadcast AND
  Zipf-skewed surfaces (a handful of entities dominate real corpora —
  here 'table'/'value' style tokens). The probe side gets
  salt = pmod(xxhash64(doc_id), n_salts); the dictionary explodes
  across all salts; the join key becomes (surface, salt) so one hot
  surface spreads over n_salts reducers. AQE skew-join stays on as
  backstop.
"""

from __future__ import annotations

import pandas as pd  # module-level so the pandas-UDF type hints resolve
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from triplestore_spark import schema as S
from triplestore_spark.pipeline import spec
from triplestore_spark.session import local_frame


def gazetteer_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, sorted(spec.GAZETTEER.items()), "surface string, iri string"
    )


def resolve_mentions(
    mentions: DataFrame,
    dictionary: DataFrame,
    strategy: str = "broadcast",
    n_salts: int = 16,
) -> DataFrame:
    """(doc_id, surface) x (surface, iri) -> candidate mention
    triples (doc, kg:mentions, <iri>).

    Inner join: surfaces outside the dictionary are not mentions (the
    dictionary is the detector). NO distinct here: surfaces are
    already per-doc-distinct from extraction (array_distinct before
    the explode), so duplicates only arise from N:1 surface->iri
    mappings — a handful of rows the global dedup_triples exchange
    collapses anyway. A distinct at this point would shuffle the
    entire mention stream a second time for nothing (measured: one
    full Exchange removed from the flagship plan).
    """
    if strategy == "broadcast":
        joined = mentions.join(F.broadcast(dictionary), on="surface", how="inner")
    elif strategy == "salted":
        salts = F.sequence(F.lit(0), F.lit(n_salts - 1))
        dict_exploded = dictionary.withColumn("salt", F.explode(salts))
        probe = mentions.withColumn(
            "salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salts)).cast("int")
        )
        joined = probe.join(dict_exploded, on=["surface", "salt"], how="inner")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    return joined.select(
        F.col("doc_id").alias("subject"),
        F.lit(False).alias("subject_is_bnode"),
        F.lit(spec.PRED_MENTIONS).alias("predicate"),
        F.lit(S.KIND_RESOURCE).alias("object_kind"),
        F.col("iri").alias("object_value"),
        F.lit("").alias("object_type"),
        F.lit("").alias("object_lang"),
    )


def resolve_mentions_static(
    mentions: DataFrame, mapping: dict[str, str]
) -> DataFrame:
    """resolve_mentions for a DICTIONARY KNOWN AT PLAN TIME: the
    surface->iri mapping inlines as a literal map expression, so the
    lookup is a pure whole-stage-codegen projection — no broadcast
    build, no join at all. Inner-join semantics: surfaces outside the
    mapping yield NULL and drop. Row-identical to
    resolve_mentions(mentions, <mapping as a frame>, 'broadcast')
    (locked by tests/test_skew.py::test_static_equals_broadcast)."""
    m = F.create_map(
        *[F.lit(x) for kv in sorted(mapping.items()) for x in kv]
    )
    iri = m[F.col("surface")]
    return (
        mentions.select(
            F.col("doc_id").alias("subject"),
            iri.alias("object_value"),
        )
        .where(F.col("object_value").isNotNull())
        .select(
            "subject",
            F.lit(False).alias("subject_is_bnode"),
            F.lit(spec.PRED_MENTIONS).alias("predicate"),
            F.lit(S.KIND_RESOURCE).alias("object_kind"),
            "object_value",
            F.lit("").alias("object_type"),
            F.lit("").alias("object_lang"),
        )
    )


def link_score_udf():
    """Vectorized entity-link scorer (SURVEY.md X4): batch similarity
    between a mention surface and a candidate dictionary surface as an
    Arrow-batched pandas UDF. Deterministic pure-Python bigram Dice
    coefficient — no native deps; exact match scores 1.0."""
    from pyspark.sql.functions import pandas_udf

    def dice(a: str, b: str) -> float:
        if a == b:
            return 1.0
        if len(a) < 2 or len(b) < 2:
            return 0.0
        ga = {a[i : i + 2] for i in range(len(a) - 1)}
        gb = {b[i : i + 2] for i in range(len(b) - 1)}
        if not ga or not gb:
            return 0.0
        return 2.0 * len(ga & gb) / (len(ga) + len(gb))

    @pandas_udf("double")
    def link_score(mention: pd.Series, candidate: pd.Series) -> pd.Series:
        return pd.Series(
            [dice(m, c) for m, c in zip(mention, candidate)], dtype="float64"
        )

    return link_score


def resolve_mentions_fuzzy(
    mentions: DataFrame,
    dictionary: DataFrame,
    min_score: float = 0.6,
    strategy: str = "broadcast",
    n_salts: int = 16,
) -> DataFrame:
    """Fuzzy ER path: score every (surface, dictionary-surface) pair
    that shares a first character (cheap blocking key) with the
    vectorized link scorer, keep the best candidate above threshold.

    Two physical strategies for the same logical blocking join (the
    exact path's split at resolve_mentions applied to the fuzzy join):

    - "broadcast" (default): the dictionary is gazetteer-sized — ship
      it whole, the mention stream never shuffles. Only the scoring
      crosses the Arrow boundary, in batches.
    - "salted": for dictionaries too large to broadcast. The 1-char
      block is intrinsically low-cardinality (≤ alphabet size), so a
      plain repartition join would funnel each block's entire mention
      stream through ONE reducer; instead the probe side gets
      salt = pmod(xxhash64(doc_id, surface), n_salts), the dictionary
      explodes across all salts, and the join key (blk, salt) spreads
      every hot block over n_salts reducers. Identical output to the
      broadcast strategy — locked by tests/test_skew.py."""
    from pyspark.sql.window import Window

    probe = mentions.withColumn("blk", F.substring("surface", 1, 1))
    dict_blk = dictionary.withColumn(
        "blk", F.substring("surface", 1, 1)
    ).withColumnRenamed("surface", "cand_surface")
    if strategy == "broadcast":
        joined = probe.join(F.broadcast(dict_blk), on="blk")
    elif strategy == "salted":
        salts = F.sequence(F.lit(0), F.lit(n_salts - 1))
        dict_salted = dict_blk.withColumn("salt", F.explode(salts))
        probe = probe.withColumn(
            "salt",
            F.pmod(F.xxhash64("doc_id", "surface"), F.lit(n_salts)).cast("int"),
        )
        joined = probe.join(dict_salted, on=["blk", "salt"]).drop("salt")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    scored = joined.withColumn(
        "score", link_score_udf()(F.col("surface"), F.col("cand_surface"))
    )
    w = Window.partitionBy("doc_id", "surface").orderBy(
        F.desc("score"), F.asc("iri")
    )
    best = (
        scored.where(F.col("score") >= min_score)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return best.select(
        F.col("doc_id").alias("subject"),
        F.lit(False).alias("subject_is_bnode"),
        F.lit(spec.PRED_MENTIONS).alias("predicate"),
        F.lit(S.KIND_RESOURCE).alias("object_kind"),
        F.col("iri").alias("object_value"),
        F.lit("").alias("object_type"),
        F.lit("").alias("object_lang"),
    ).distinct()
