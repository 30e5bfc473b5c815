"""Stage-level cost audit of pipeline_e2e (r10 verdict task 4): the
composed training-data flow is the single largest extras-bench line
(~25% of the extras total), so its executed plan is counted — parquet
scans per input, exchanges, in-plan scalar-subquery passes — and its
wall + shuffle bytes are A/B-measured against the round-10 shape
(pack_sequences on the default in-plan auto-bucket, which re-executed
the selection segment's min/max per action) to record what the
round-11 explicit-bucket change bought.

Arms:
  r10_shape  pack_sequences derives its bucket from _auto_bucketed's
             in-plan min/max over the selection segment (emulated by
             stripping the bucket kwarg — the only difference from
             the committed r10 code is that the shard bucket was
             already explicit there too)
  r11_shape  the current code: doc-id and start-tok buckets both
             derived from ONE aggregate over the checkpointed survivors

Run: python tools/audit_pipeline_e2e.py  → one JSON line, also
written to PIPELINE_AUDIT.json at the repo root.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from shmr_spark import get_spark  # noqa: E402
from shmr_spark.metrics import shuffle_bytes_of  # noqa: E402
from tools.bench_common import timed  # noqa: E402


def input_bytes_of(spark, run) -> int:
    """Actual bytes READ from storage by run() (executor input
    metrics) — the honest scan-multiple measure: plan-text node
    counts overstate scans because a printed tree repeats shared
    subtrees that execute once (ReusedExchange / cached stages)."""
    jsc = spark.sparkContext._jsc.sc()

    def total():
        jsc.listenerBus().waitUntilEmpty()
        lst = jsc.statusStore().executorList(False)
        return sum(
            lst.apply(i).totalInputBytes() for i in range(lst.size())
        )

    before = total()
    run()
    return total() - before


def plan_counts(df) -> dict:
    """Scan/exchange census of the EXECUTED plan (post-AQE): how many
    times each parquet input APPEARS (textual; shared subtrees print
    repeatedly but execute once — see reused_exchanges and the
    measured input_bytes), and how many exchanges the plan runs."""
    df.write.format("noop").mode("overwrite").save()  # finalize AQE
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans: dict[str, int] = {}
    for m in re.finditer(r"Scan parquet[^\n]*?\[file:[^\]]*?/(\w+)\.parquet?", plan):
        scans[m.group(1)] = scans.get(m.group(1), 0) + 1
    if not scans:  # path form without the .parquet suffix in brackets
        for m in re.finditer(r"Location: InMemoryFileIndex[^\n]*/(\w+)\.parquet", plan):
            scans[m.group(1)] = scans.get(m.group(1), 0) + 1
    return {
        "scans": scans,
        "exchanges": plan.count("Exchange "),
        "shuffle_exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition"),
        "broadcast_exchanges": plan.count("Exchange BroadcastExchange")
        + plan.count("BroadcastExchange"),
        "subqueries": plan.count("Subquery subquery"),
        "in_memory_scans": plan.count("InMemoryTableScan"),
        "reused_exchanges": plan.count("ReusedExchange"),
    }


def main() -> None:
    from shmr_spark.operators import packing
    from shmr_spark.operators.training_pipeline import training_pipeline

    spark = get_spark(app_name="audit_pipeline_e2e")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    real_pack = packing.pack_sequences

    def pack_no_bucket(df, id_col="doc_id", tokens_col="n_tokens",
                       budget=2048, bucket=None):
        return real_pack(df, id_col, tokens_col, budget, bucket=None)

    arms = {}
    for name, patch in (("r10_shape", pack_no_bucket), ("r11_shape", real_pack)):
        packing.pack_sequences = patch
        # training_pipeline imported pack_sequences by name — patch there too
        import shmr_spark.operators.training_pipeline as tp

        tp.pack_sequences = patch
        try:

            def build():
                return training_pipeline(spark, sf_dir)

            counts = plan_counts(build())
            wall = timed(build, reps=3)
            sb = shuffle_bytes_of(spark, lambda: build().write.format("noop")
                                  .mode("overwrite").save())
            ib = input_bytes_of(spark, lambda: build().write.format("noop")
                                .mode("overwrite").save())
            doc_file = os.path.getsize(
                os.path.join(sf_dir, "documents.parquet")
            )
            arms[name] = {
                "wall_sec": wall,
                "shuffle_mb": round(sb["write"] / 1e6, 2),
                "input_mb": round(ib / 1e6, 2),
                "input_vs_documents_file": round(ib / doc_file, 2),
                **counts,
            }
        finally:
            packing.pack_sequences = real_pack
            tp.pack_sequences = real_pack

    result = {
        "metric": "pipeline_e2e_stage_audit",
        "sf_dir": sf_dir,
        "arms": arms,
        "note": (
            "r10_shape re-derives pack_sequences' bucket from an in-plan "
            "min/max over the selection segment per action; r11_shape "
            "derives both buckets from one aggregate over the checkpointed "
            "survivors. 'scans' counts TEXTUAL plan occurrences (shared "
            "subtrees print repeatedly but execute once); "
            "input_vs_documents_file is the measured scan multiple — "
            "actual storage bytes read per action over the documents "
            "file size. The pipeline's input is re-read across its "
            "ACTIONS (survivor and minhash checkpoints bound the "
            "recompute), not within one plan."
        ),
    }
    line = json.dumps(result)
    print(line)
    with open(os.path.join(REPO, "PIPELINE_AUDIT.json"), "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
