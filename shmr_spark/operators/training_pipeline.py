"""The composed training-data flow, end to end, as ONE query:

    clean/normalize → quality + token annotate → language/quality +
    repetition filter → exact dedup → MinHash near-dup cluster dedup →
    token-budget select → sequence pack → sorted-shard assignment

Each stage is the production operator the registry gates individually
(dedup/exact.py, dedup/minhash.py, dedup/clusters.py,
operators/selection.py, operators/packing.py, operators/ranking.py);
this module composes them into the one flow a real corpus build runs,
so the bench can time it end-to-end at scale and the tests can assert
the cross-stage invariant chain (counts only shrink, survivors are
near-dup-free, packing conserves tokens, shards are balanced).

The composition introduces no new shuffles and keeps no state between
calls. Every frame it reuses has two or more consumers within one
call and is materialized with a lazy ``localCheckpoint`` (computed by
the first action that reaches it, released with the DataFrame), so a
call leaves nothing in the session's CacheManager and a repeated call
recomputes, as a production job does. Its driver-side actions are
bounded aggregates over the checkpointed survivor projection — one
in quality mode, two in DSIR mode — that collect the token total, the
max doc id and the selection's per-bucket token totals, so the budget
cut's offsets and the pack/shard bucket widths ride the plan as
literals and a driver-built local relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shmr_spark.catalog import load_table
from shmr_spark.dedup import minhash_near_duplicates
from shmr_spark.dedup.clusters import dedup_keep_cluster_representative
from shmr_spark.dedup.exact import dedup_exact_keep_first
from shmr_spark.functions.text import quality_score, token_count, tokens
from shmr_spark.operators.packing import pack_sequences
from shmr_spark.operators.ranking import range_shards
from shmr_spark.operators.selection import (
    auto_scaled_bucket,
    score_bucket,
    select_by_token_fraction_from_totals,
)

def training_pipeline(
    spark: SparkSession,
    sf_dir: str,
    budget_fraction: float = 0.5,
    neardup_threshold: float = 0.8,
    pack_budget: int = 2048,
    n_shards: int = 16,
    dsir_target=None,
    dsir_hash_buckets: int | None = None,
    dsir_ngrams: int = 1,
) -> DataFrame:
    """Run the full flow over ``sf_dir``'s documents table; returns
    the final shard table (doc_id, quality, n_tokens, start_tok,
    pack_id, shard_id).

    ``budget_fraction`` sizes the token-budget cut relative to the
    surviving corpus's token mass, so the pipeline is scale-free: no
    absolute constant goes stale when the corpus grows 10×. The cut
    needs the total (one extra pass over the survivors), so the
    deduped projection is checkpointed first — the production shape:
    the output of an expensive dedup stage is materialized (there,
    written to storage) before fan-out to selection + stats, never
    recomputed per consumer.

    ``dsir_target`` (optional boolean Column over the documents
    columns, e.g. ``F.col("lang") == "en"``) switches the selection
    stage's ranking from the per-row quality heuristic to the DSIR
    importance log-weight toward that target domain
    (functions/dsir.py), length-normalized to the per-token mean —
    same greedy token-fraction cut, different order. Opt-in because
    it adds the DSIR scoring pass (one
    (doc, token) partial-aggregated explode + a broadcast-sized
    count relation) over the checkpointed exact-dedup frame.

    ``dsir_hash_buckets`` / ``dsir_ngrams`` select the hashed
    bounded-feature estimator (the production configuration for raw
    web-scale corpora, where the count relation must be ≤B rows by
    construction rather than Heaps-bounded) and the paper's
    unigram+bigram feature set; both pass straight through to
    ``dsir_logweights``. The per-token mean stays the ranking score
    in every mode — n_tokens counts tokens regardless of feature
    space.
    """
    docs = load_table(spark, sf_dir, "documents")

    cleaned = (
        docs.select(
            "doc_id",
            "lang",
            F.trim(F.regexp_replace(F.lower("text"), " +", " ")).alias("text"),
        )
        .withColumn("quality", quality_score("text"))
        .withColumn("n_tokens", token_count("text").cast("long"))
        # Gopher-style repetition gate, in its IN-SCAN form: the
        # duplicate-token fraction as a native array expression — zero
        # shuffles, unlike the full per-gram explode operator
        # (functions/lm.py repetition_metrics), which is the right
        # shape only when the per-gram counts themselves are wanted.
        # Threshold 0.7 ≈ the corpus p95 (sf0.1: p50 0.536, p95
        # 0.697, max 0.731) — cuts the most-degenerate ~5% tail.
        .withColumn(
            "dup_token_frac",
            1
            - F.size(F.array_distinct(tokens("text"))).cast("double")
            / F.size(tokens("text")).cast("double"),
        )
    )

    kept = cleaned.filter(
        (F.col("quality") > 0.5)
        & (F.col("n_tokens") >= 5)
        & (F.col("dup_token_frac") <= 0.7)
    )

    # The exact-dedup output has two consumers (minhash banding and
    # the cluster-representative join), each of which would otherwise
    # recompute clean→annotate→filter→dedup from the scan.
    exact = dedup_exact_keep_first(kept, "text", "doc_id").localCheckpoint(
        eager=False
    )
    pairs = minhash_near_duplicates(exact, threshold=neardup_threshold)
    surv = dedup_keep_cluster_representative(exact, pairs)

    # The survivor projection has two or more consumers: the stats
    # action below and the selection (plus, in DSIR mode, the ranking
    # join and the quality re-attach).
    scored = surv.select("doc_id", "quality", "n_tokens").localCheckpoint(
        eager=False
    )
    if dsir_target is not None:
        from shmr_spark.functions.dsir import dsir_logweights

        # Score the checkpointed exact-dedup frame (the last
        # materialized point that still has text — scoring surv would
        # recompute the whole minhash banding lineage); the join onto
        # scored restricts weights to the near-dup survivors, and
        # estimating the target/raw distributions over the
        # exact-deduped pool is the paper's setting (DSIR runs
        # pre-selection, not post-near-dup). Two selection-specific
        # constraints:
        # - the cut ranks by the PER-TOKEN mean log-weight, not the
        #   raw sum: the sum grows with document length (unbounded
        #   either sign), while the mean is bounded by
        #   max |per-token term| ≤ ln(corpus_tokens + V) — ~32 at
        #   10¹⁴ tokens (and the length-debiased ranking is what a
        #   budget cut wants anyway: the raw sum double-counts
        #   length, which the token-budget cut already charges for).
        #   The score is bucketed AUTO-SCALED: dsir_score
        #   concentrates near 0 (|score| < 0.23 measured at sf0.1),
        #   so a static floor(score·K) against the ±32 worst-case
        #   bound would populate only a handful of buckets and run
        #   large corpus fractions of the per-bucket cumulative
        #   window in single tasks. The affine map from the observed
        #   min/max into [0, 1024) buckets keeps the populated-bucket
        #   count tracking the observed spread at any corpus size
        #   while the offsets relation stays ≤ 1024 rows (the prefix
        #   sum is exact under any order-preserving bucketing,
        #   asserted in tests);
        # - the ranked frame is checkpointed before the cut: both
        #   stats actions and the selection read it, so an
        #   un-materialized DSIR lineage would re-run the
        #   (doc, token) explode + aggregations once per consumer.
        ranked = (
            scored.join(
                dsir_logweights(
                    exact,
                    dsir_target,
                    hash_buckets=dsir_hash_buckets,
                    ngrams=dsir_ngrams,
                ).select(
                    "doc_id",
                    (F.col("logweight") / F.col("n_tokens")).alias(
                        "dsir_score"
                    ),
                ),
                "doc_id",
            ).localCheckpoint(eager=False)
        )

        # DSIR mode folds the auto-scaled selection cut into TWO
        # bounded driver actions over the checkpointed ranked frame
        # (the bucketing needs the score min/max before the totals
        # can be grouped):
        #   1. min/max of dsir_score + the survivor stats (ranked has
        #      exactly the survivor doc set — dsir_logweights emits
        #      every document of its input once and the join keys the
        #      scored projection — so sum(n_tokens)/max(doc_id) here
        #      equal the scored-frame aggregate they replace);
        #   2. per-bucket token totals grouped by the LITERAL affine
        #      bucket map (auto_scaled_bucket — bit-identical floors
        #      to the in-plan broadcast min/max form, see its
        #      docstring), ≤1024 rows collected.
        # select_by_token_fraction_from_totals then derives the
        # offsets as a driver-built local relation and the cut as a
        # literal integer budget (the decimal arithmetic replicated
        # digit-for-digit, asserted in tests), so downstream actions
        # stop re-executing the min/max aggregate, the offsets
        # groupBy+single-partition-window and the total-token
        # aggregate that the in-plan auto-scaled cut re-inlined at
        # every reference.
        stats = ranked.agg(
            F.min("dsir_score").alias("lo"),
            F.max("dsir_score").alias("hi"),
            F.sum("n_tokens").alias("t"),
            F.max("doc_id").alias("m"),
        ).collect()[0]
        total_tokens = stats["t"] or 0
        max_doc_id = stats["m"] or 0
        dsir_bucket = auto_scaled_bucket(
            "dsir_score", stats["lo"], stats["hi"], 1024
        )
        bucket_rows = (
            ranked.groupBy(dsir_bucket.alias("__bucket"))
            .agg(F.sum("n_tokens").alias("__btot"))
            .collect()
        )
        sel = (
            select_by_token_fraction_from_totals(
                ranked,
                [(r["__bucket"], r["__btot"]) for r in bucket_rows],
                fraction=budget_fraction,
                score_col="dsir_score",
                score_buckets=1024,
                bucket_expr=dsir_bucket,
            )
            .join(scored.select("doc_id", "quality"), "doc_id")
            # the DSIR selection has three downstream references
            # (pack join, quality re-attach, shard ranking); the
            # checkpoint truncates the logical plan at the selection
            # boundary so no action re-plans or re-runs the cut under
            # each of them. Quality mode's selection sub-plan is cheap
            # and its plan an order of magnitude smaller, so it stays
            # un-checkpointed.
            .localCheckpoint(eager=False)
        )
    else:
        # Quality mode folds the selection's bucket-offset relation
        # into ONE action: grouping the survivor stats by the
        # selection's exact score-bucket expression yields the per-bucket token totals (≤1001 rows
        # collected — bounded at any corpus size), from which
        # select_by_token_fraction_from_totals derives the offsets as
        # a driver-built local relation and the cut as a literal
        # integer budget. Every subsequent action over the pipeline
        # output then skips the two extra passes over the
        # checkpointed survivors (the offsets groupBy+window and the
        # total-token aggregate) that an in-plan fraction cut would
        # re-execute each time. Output is bit-identical (the decimal
        # cut arithmetic is replicated digit-for-digit; asserted in
        # tests).
        bucket_rows = (
            scored.groupBy(
                score_bucket("quality", 1000).alias("__bucket")
            )
            .agg(
                F.sum("n_tokens").alias("__btot"),
                F.max("doc_id").alias("__bmax"),
            )
            .collect()
        )
        total_tokens = sum(int(r["__btot"]) for r in bucket_rows)
        max_doc_id = max(
            (int(r["__bmax"]) for r in bucket_rows), default=0
        )
        sel = select_by_token_fraction_from_totals(
            scored,
            [(r["__bucket"], r["__btot"]) for r in bucket_rows],
            fraction=budget_fraction,
        )

    # Explicit buckets for BOTH two-phase scans below (pack_sequences
    # and range_shards): their default in-plan min/max
    # (ranking._auto_bucketed) would add one action-time pass over the
    # selection→packing segment EACH just to size the cells. Both key ranges are known up front — doc_id
    # ≤ max(doc_id) over the survivors, start_tok < fraction·total —
    # so fixed-width coarsenings derive from the stats action(s) over
    # the checkpointed survivors above: the expensive segment executes
    # exactly once per action, and both bucket counts stay ≤ ~4096 at
    # any corpus size. (Survivor doc_ids/token totals are dense,
    # non-outlier domains, so fixed-width cells cannot collapse —
    # the skew caveat on prefix_sum's bucket contract.)
    id_width = max(1, int(max_doc_id) // 4096 + 1)
    doc_bucket = F.floor(F.col("doc_id") / F.lit(id_width)).cast("long")

    packed = pack_sequences(
        sel.select("doc_id", "n_tokens"), budget=pack_budget,
        bucket=doc_bucket,
    ).join(sel.select("doc_id", "quality"), "doc_id")

    width = max(1, int(total_tokens * budget_fraction) // 4096 + 1)
    shard_bucket = F.floor(F.col("start_tok") / F.lit(width)).cast("long")

    return range_shards(
        packed,
        key_col="start_tok",
        id_col="doc_id",
        n_shards=n_shards,
        bucket=shard_bucket,
    )
