"""CLI job entry point — the spark-submit surface.

    spark-submit --py-files dist/engine.zip -m ...  # on a cluster
    python -m pdf_to_text_spark.run --input <pages parquet> --output <dir>

--resume uses the snapshot-checkpointed path (plans/checkpoint.py): a
re-run after a crash processes only uncommitted buckets.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pdf_to_text_spark.run")
    ap.add_argument("--input", required=True, help="pages parquet path")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--master", default=None)
    ap.add_argument("--resume", action="store_true",
                    help="snapshot-checkpointed extraction (resumable)")
    ap.add_argument("--no-dedup", action="store_true")
    args = ap.parse_args(argv)

    from .config import build_spark

    spark = build_spark("pdf_to_text_spark.run", master=args.master)
    try:
        from .pipeline import artifacts_from_extracted

        pages = spark.read.parquet(args.input)
        if args.resume:
            from .plans.checkpoint import run_resumable_extraction

            mt = run_resumable_extraction(
                spark, pages, f"{args.output}/extracted",
                dedup=not args.no_dedup,  # r5 review: was silently ignored
            )
            extracted = mt.read(spark)
            # the snapshot-stamped lineage rows: resume's extra artifact
            mt.metrics(spark).write.mode("overwrite").parquet(
                f"{args.output}/metrics_lineage"
            )
            # doc count from the manifests already parsed in-process — a
            # .count() here re-scanned every committed file for one log
            # line (r6 review)
            snaps = mt.snapshots()
            n = sum(m["docs"] for s in snaps for m in s["metrics"])
            done = (f"extracted (resumable): {n} docs, {len(snaps)} snapshots; "
                    "wrote extracted/records/csv_docs/json_docs/metrics/metrics_lineage")
        else:
            # write extracted/ FIRST and re-read it: every downstream
            # artifact shares the extraction lineage, and the four lazy
            # sinks would re-run the PDF/HTML kernel — the dominant
            # cost — once per write. One kernel pass, then cheap
            # derivations from columnar parquet (r5 review).
            from .operators.extraction import run_extraction

            run_extraction(pages, dedup=not args.no_dedup).write.mode(
                "overwrite"
            ).parquet(f"{args.output}/extracted")
            extracted = spark.read.parquet(f"{args.output}/extracted")
            done = "wrote extracted/records/csv_docs/json_docs/metrics"
        # the SAME five-artifact contract in both modes: one write path,
        # so --resume cannot stop at extracted+metrics; metrics/ keeps
        # one schema across both (metrics_rollup)
        out = artifacts_from_extracted(extracted)
        for name in ("records", "csv_docs", "json_docs", "metrics"):
            out[name].write.mode("overwrite").parquet(f"{args.output}/{name}")
        print(f"{done} under {args.output}", file=sys.stderr)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
