"""Per-phase wall profiling for the composed funnel queries (guide §1.4).

Times each stage of q440's build_disposition_table (and the q443 tail)
in isolation with the noop sink so stage cost is attributed to the stage
that computes it, not the first downstream consumer of its checkpoint.

Usage: python tools/profile_phases.py [q440|q295]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def noop(df, desc):
    spark = df.sparkSession
    spark.sparkContext.setJobDescription(desc)
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    dt = time.monotonic() - t0
    spark.sparkContext.setJobDescription(None)
    print(f"  {desc}: {dt:.2f}s", flush=True)
    return dt


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "q440"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import prep
    from gh_archive_data_pipeline_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name=f"profile-{which}")
    prep(spark, sf_dir)
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    if which == "q440":
        from gh_archive_data_pipeline_spark.operators.classifier import (
            _cached_probe,
        )
        from gh_archive_data_pipeline_spark.operators.pipeline_build import (
            _ckpt, manifest_from_disposition, phase1_exact, phase2_chunk,
            phase3_gate_split,
        )
        docs = load_table(spark, sf_dir, "documents")
        w, b = _cached_probe(spark, sf_dir)
        t0 = time.monotonic()

        def timed_build(fn, desc):
            # eager sub-checkpoints (minhash sh/stacked, prefix-sum part)
            # execute during DataFrame CONSTRUCTION — time it separately
            tb = time.monotonic()
            out = fn()
            print(f"  {desc} [build]: {time.monotonic() - tb:.2f}s",
                  flush=True)
            return out

        flag1 = timed_build(lambda: _ckpt(phase1_exact(docs), True),
                            "phase1_exact")
        noop(flag1, "phase1_exact (ckpt materialize)")
        ann1 = timed_build(lambda: _ckpt(phase2_chunk(flag1), True),
                           "phase2_chunk")
        noop(ann1, "phase2_chunk (ckpt materialize)")
        disp = timed_build(
            lambda: _ckpt(phase3_gate_split(docs, ann1, w, b), True),
            "phase3_gate_split")
        noop(disp, "phase3_gate_split (ckpt materialize)")
        man = timed_build(lambda: manifest_from_disposition(disp),
                          "manifest")
        noop(man, "manifest_from_disposition")
        print(f"  TOTAL: {time.monotonic() - t0:.2f}s")
        # q443 tail over the same disposition table
        from gh_archive_data_pipeline_spark.operators.pipeline_build import (
            _Q443_EPOCHS,
        )
        from gh_archive_data_pipeline_spark.operators.selection import (
            _SEQ_LEN, epoch_order, pack_spans,
        )
        kept = disp.filter(F.col("outcome") == "kept")
        sized = kept.select("doc_id", "split",
                            F.col("kept_tokens").alias("n_tokens"))
        spans = pack_spans(sized, _SEQ_LEN, eod_per_doc=True,
                           part_cols=["split"])
        trainseqs = (spans.filter(F.col("split") == "train")
                     .select("seq_id").distinct())
        noop(epoch_order(trainseqs, list(_Q443_EPOCHS)),
             "q443 tail: pack+epoch_order")
    elif which == "q295":
        from gh_archive_data_pipeline_spark.operators.graph import (
            copurchase_edges, degree_oriented,
        )
        t0 = time.monotonic()
        edges = copurchase_edges(spark, sf_dir)
        noop(edges, "copurchase_edges (one eval)")
        o = degree_oriented(edges).select("s", "t")
        noop(o, "degree_oriented (edges re-eval x3)")
        print(f"  TOTAL: {time.monotonic() - t0:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
