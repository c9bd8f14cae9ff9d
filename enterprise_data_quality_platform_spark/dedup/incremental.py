"""Incremental corpus deduplication: dedup an INCOMING shard against an
already-ingested corpus without re-reading the corpus text.

This is the production shape at 100 TB — the corpus is deduped once, and
from then on every arriving shard is checked against a COMPACT persisted
state, never against the raw corpus:

- **exact tier**: the corpus's normalized content fingerprints
  (md5, 16 bytes/doc) — an incoming doc whose fingerprint exists is an
  exact duplicate. One broadcast-or-shuffle LEFT ANTI join.
- **near tier**: the corpus's MinHash signatures (num_perm longs/doc,
  ~256 B at 32 perms) — the shard's signatures band-bucket-join the
  corpus's (derived on the fly from the stored signature; band tables are
  never persisted), and candidates are verified by the signature-agreement
  Jaccard estimate (fraction of equal minhash components — the standard
  unbiased estimator), so the corpus's shingle sets are NOT needed. The
  decision is approximate exactly where MinHash itself is; the state stays
  kilobytes per thousand documents.

State update is a union of the survivors' fingerprints/signatures — append
-only, mergeable, replayable. All joins are bucket/equi joins; nothing is
O(corpus × shard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import fingerprint
from .minhash import DEFAULT_BANDS, DEFAULT_ROWS, _banded, signatures

#: Reasons in the drop report, in decision order.
REASON_EXACT = "exact_dup"
REASON_NEAR = "near_dup"


def build_dedup_state(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = DEFAULT_BANDS,
    rows: int = DEFAULT_ROWS,
    n: int = 3,
    parts: tuple[str, ...] = ("fingerprints", "signatures"),
) -> dict[str, DataFrame]:
    """Compact dedup state of a corpus: ``fingerprints`` (fp, doc_id —
    min id per fingerprint as provenance) and ``signatures``
    (doc_id, sig). Both one-shuffle aggregates of the corpus.

    ``parts`` selects which state tables to BUILD: the MinHash signature
    plan is ~num_perm aggregate expressions whose driver-side
    construction costs real wall-clock (~0.7 s measured) even when the
    resulting DataFrame is never executed — an exact-tier-only caller
    passes ``parts=("fingerprints",)`` and skips it (Spark is lazy about
    execution, but plan CONSTRUCTION is eager)."""
    state: dict[str, DataFrame] = {}
    if "fingerprints" in parts:
        state["fingerprints"] = (
            corpus.select(
                fingerprint(F.col(text_col)).alias("fp"), F.col(id_col)
            )
            .groupBy("fp")
            .agg(F.min(id_col).alias("doc_id"))
        )
    if "signatures" in parts:
        state["signatures"] = signatures(corpus, text_col, id_col, bands * rows, n)
    return state


def write_dedup_state(state: dict[str, DataFrame], path: str) -> None:
    """Persist the state as two parquet tables under ``path``."""
    state["fingerprints"].write.mode("overwrite").parquet(f"{path}/fingerprints")
    state["signatures"].write.mode("overwrite").parquet(f"{path}/signatures")


def read_dedup_state(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    from ..catalog import read_parquet

    return {
        "fingerprints": read_parquet(spark, f"{path}/fingerprints"),
        "signatures": read_parquet(spark, f"{path}/signatures"),
    }


def _sig_agreement(a, b, num_perm: int):
    """Fraction of equal minhash components — the unbiased Jaccard
    estimator for two signatures (row-local zip_with, no shuffle)."""
    eq = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return eq / F.lit(num_perm)


def incremental_dedup(
    shard: DataFrame,
    state: dict[str, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    bands: int = DEFAULT_BANDS,
    rows: int = DEFAULT_ROWS,
    n: int = 3,
    max_bucket_size: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Dedup ``shard`` against the corpus ``state``.

    Returns ``(kept, report)``: ``kept`` is the shard rows that survive
    both tiers; ``report`` is one row per DROPPED shard doc —
    (doc_id, reason, matched_id, est_jaccard) with reason
    ``exact_dup`` (fingerprint already in state; est_jaccard null) or
    ``near_dup`` (best signature-agreement ≥ threshold, matched_id = the
    corpus doc with the highest estimate, min id on ties).

    Plan: exact tier = one equi join on the 16-byte fingerprint (AQE
    broadcasts whichever side is small). Near tier = band tables derived
    from stored signatures (row-local explode), bucket equi-join with the
    same hot-bucket guard as the batch LSH, then ONE signature-agreement
    evaluation per distinct candidate pair — the corpus text is never
    touched, and nothing is all-pairs."""
    num_perm = bands * rows

    fp_col = fingerprint(F.col(text_col)).alias("fp")
    shard_fp = shard.select(F.col(id_col), fp_col)
    exact_hits = shard_fp.join(
        state["fingerprints"].withColumnRenamed("doc_id", "matched_id"),
        on="fp",
    ).select(
        id_col,
        F.lit(REASON_EXACT).alias("reason"),
        "matched_id",
        F.lit(None).cast("double").alias("est_jaccard"),
    )
    survivors = shard.join(
        state["fingerprints"].select("fp"),
        fingerprint(F.col(text_col)) == F.col("fp"),
        "left_anti",
    )

    shard_sigs = signatures(survivors, text_col, id_col, num_perm, n)
    shard_bands = _banded(shard_sigs, id_col, "sig", bands, rows).select(
        F.col(id_col).alias("shard_id"), "band_idx", "band_hash"
    )
    corpus_bands = _banded(state["signatures"], "doc_id", "sig", bands, rows)
    # hot-bucket guard on the corpus side (the side that grows)
    sizes = corpus_bands.groupBy("band_idx", "band_hash").count()
    corpus_bands = corpus_bands.join(
        sizes.filter(F.col("count") <= max_bucket_size).drop("count"),
        on=["band_idx", "band_hash"],
    ).select(F.col("doc_id").alias("corpus_id"), "band_idx", "band_hash")

    cands = (
        shard_bands.join(corpus_bands, on=["band_idx", "band_hash"])
        .select("shard_id", "corpus_id")
        .distinct()
    )
    scored = (
        cands.join(
            shard_sigs.select(
                F.col(id_col).alias("shard_id"), F.col("sig").alias("sig_s")
            ),
            on="shard_id",
        )
        .join(
            state["signatures"].select(
                F.col("doc_id").alias("corpus_id"), F.col("sig").alias("sig_c")
            ),
            on="corpus_id",
        )
        .select(
            "shard_id",
            "corpus_id",
            _sig_agreement(F.col("sig_s"), F.col("sig_c"), num_perm).alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    # best match per shard doc: highest estimate, lowest corpus id on ties
    near_hits = (
        scored.groupBy("shard_id")
        .agg(
            F.max(
                F.struct(
                    F.col("est_jaccard"), (-F.col("corpus_id")).alias("neg_id")
                )
            ).alias("best")
        )
        .select(
            F.col("shard_id").alias(id_col),
            F.lit(REASON_NEAR).alias("reason"),
            (-F.col("best.neg_id")).alias("matched_id"),
            F.col("best.est_jaccard").alias("est_jaccard"),
        )
    )

    kept = survivors.join(
        near_hits.select(F.col(id_col).alias("__drop_id")),
        survivors[id_col] == F.col("__drop_id"),
        "left_anti",
    )
    report = exact_hits.unionByName(near_hits)
    return kept, report


def updated_state(
    state: dict[str, DataFrame],
    kept: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = DEFAULT_BANDS,
    rows: int = DEFAULT_ROWS,
    n: int = 3,
) -> dict[str, DataFrame]:
    """State after ingesting the survivors: fingerprint union (min-id
    winner preserved) + signature append. Pure unions — the existing
    state is never recomputed, so the update is O(shard)."""
    add = build_dedup_state(kept, text_col, id_col, bands, rows, n)
    fps = (
        state["fingerprints"]
        .unionByName(add["fingerprints"])
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    sigs = state["signatures"].unionByName(add["signatures"])
    return {"fingerprints": fps, "signatures": sigs}
