"""spark-submit entry point for the resumable encode job.

Cluster:
    spark-submit --py-files rlv.zip jobs/encode_job.py \
        --input s3://bucket/tokens --output s3://bucket/encoded \
        [--tasks N] [--no-resume] [--verify]

Sandbox (local[N] stands in for N executors):
    python jobs/encode_job.py --input <tokens parquet dir> \
        --output /tmp/enc --cpus 4 --verify

Build the zip for --py-files with:  python -m zipfile -c rlv.zip rlv
The job runs the python-native scan (rlv.engine_files): Spark schedules
row-group splits, each task reads with pyarrow and writes its blocks file;
no shuffle.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# running as a plain script: make the repo root importable on the driver AND
# in the executors' python workers, which unpickle closures that reference the
# rlv module by name (spark-submit users get both via --py-files instead)
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="token table parquet dir")
    ap.add_argument("--output", required=True, help="output dir (blocks + manifest)")
    ap.add_argument("--tasks", type=int, default=None, help="splits")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] when no cluster master is configured")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--verify", action="store_true",
                    help="decode every block and check bit-identity")
    ap.add_argument("--compact-target", type=int, default=None, metavar="BYTES",
                    help="after encoding, compact blocks files up to this size")
    ap.add_argument("--encode-strings", action="store_true",
                    help="route the source column through the STRDICT codec "
                         "(per-split sidecars) instead of storing it plain")
    ap.add_argument("--shared-fsst", action="store_true",
                    help="with --encode-strings: train one corpus FSST table "
                         "via the sampling pass and share it across chunks")
    ap.add_argument("--disable-codecs", default="",
                    help="comma-separated codec names to mask out of the "
                         "auto-selector (e.g. 'delta'); RLE is not maskable")
    args = ap.parse_args(argv)
    if args.shared_fsst and not args.encode_strings:
        ap.error("--shared-fsst requires --encode-strings")

    from pyspark.sql import SparkSession

    if args.cpus:
        from rlv.session import make_session

        spark = make_session(args.cpus, app="rlv-encode")
    else:  # under spark-submit: master/config come from the submit command
        spark = SparkSession.builder.appName("rlv-encode").getOrCreate()
        spark.sparkContext.setLogLevel("WARN")

    from rlv import engine_files

    symbols = None
    if args.shared_fsst:
        stats = engine_files.sample_pass(spark, args.input)
        symbols = [bytes.fromhex(h) for h in stats["fsst_symbols"]]
    summary = engine_files.encode_files_dataset(
        spark, args.input, args.output, num_tasks=args.tasks,
        resume=not args.no_resume,
        string_cols=("source",) if args.encode_strings else (),
        fsst_symbols=symbols,
        disable_codecs=tuple(c for c in args.disable_codecs.split(",") if c),
    )

    # verify BEFORE compaction: one verify unit per original split keeps
    # the decode-compare fully parallel (a freshly-compacted dataset may hold
    # only a handful of merged files); compaction never touches block bytes,
    # so verifying the pre-compaction files certifies the post-compaction
    # data identically (and post-compaction verify still works — the merged
    # lineage replay — it just runs at merged-file granularity).
    if args.verify:
        # zero-shuffle: replay each split's lineage and compare in-task
        res = engine_files.verify_files_dataset(
            spark, args.input, args.output, num_tasks=args.tasks
        )
        summary["verify_rows"] = res["docs"]
        summary["verify_mismatches"] = res["mismatches"]

    if args.compact_target:
        summary["compaction"] = engine_files.compact_blocks(
            spark, args.output, target_bytes=args.compact_target
        )

    print(json.dumps(summary))
    spark.stop()
    return 1 if summary.get("verify_mismatches") else 0


if __name__ == "__main__":
    sys.exit(main())
