"""spark-submit entry point for QUERIES over an encoded table dataset.

Every action reads through the pushdown layer (`rlv.table_files`): blocks
the predicates exclude are never decoded, aggregates run from the blocks,
DISTINCT/ANALYZE stay metadata-only where the predicate allows.

Predicates (`--where`) are a JSON list of the pushdown kinds::

    '[["between","k",0,99], ["not_between","k",40,50],
      ["int_in","code",[7,41]],
      ["eq","tag","w03"],   ["ne","tag","w03"],
      ["in","tag",["a","b"]], ["not_in","tag",["a","b"]],
      ["str_between","tag","a","mz"],
      ["prefix","tag","Clerk#0"], ["not_prefix","tag","Clerk#0"],
      ["contains","tag","erk"], ["suffix","tag","#042"],
      ["isnull","tag"], ["notnull","k"],
      ["or",[["between","k",0,9], ["eq","tag","w03"]]],
      ["or",[["and",[["between","k",0,9],["prefix","tag","w"]]],
             ["eq","tag","w03"]]]]'

Cluster:
    spark-submit --py-files rlv.zip jobs/query_job.py scan \
        --data s3://bucket/enc --where '[["between","v",0,9]]' \
        --columns k,v --output s3://bucket/result
    spark-submit ... jobs/query_job.py agg --data ... --value v --where ...
    spark-submit ... jobs/query_job.py count --data ... --where ...
        (COUNT(*): no value column read; full blocks count from metadata)
    spark-submit ... jobs/query_job.py group --data ... --value v \
        --by tag[,band,...]
    spark-submit ... jobs/query_job.py topk --data ... --col v -k 100
    spark-submit ... jobs/query_job.py distinct --data ... --col tag
    spark-submit ... jobs/query_job.py ndv --data ... --col tag --where ...
    spark-submit ... jobs/query_job.py explain --data ... --where ...
        (what WOULD a scan read: block classes + exact payload bytes,
         from metadata alone, classified on the driver: no Spark job)
    spark-submit ... jobs/query_job.py stats --data ...
    spark-submit ... jobs/query_job.py ctas --data ... --output dst \
        --where '[["prefix","tag","w0"]]' [--cluster-by v]
    spark-submit ... jobs/query_job.py join --data encA --data2 encB \
        --on k[,k2] [--where ...] [--where2 ...] \
        [--columns a1,a2] [--columns2 b1] [--how inner|left] --output dst
        (general encoded x encoded inner or LEFT join: both sides through
         their own pruned scans; broadcast + runtime filter decided from
         the format's metadata)

Sandbox: python jobs/query_job.py <action> ... [--cpus N]
(without --cpus the session is Spark's default, local[*]: all cores)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
os.environ["PYTHONPATH"] = (
    _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)


def _preds(raw: str | None) -> list[tuple] | None:
    if not raw:
        return None
    parsed = json.loads(raw)
    if not isinstance(parsed, list):
        raise SystemExit("--where must be a JSON list of predicates")
    return [tuple(p) for p in parsed]


def _columns(raw: str | None) -> list[str] | None:
    return [c for c in raw.split(",") if c] if raw else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("action", choices=[
        "scan", "agg", "count", "minmax", "group", "topk", "distinct",
        "ndv", "stats", "ctas", "explain", "explain-agg", "join",
    ])
    ap.add_argument("--data", required=True, help="encoded dataset dir")
    ap.add_argument("--where", default=None, help="JSON predicate list")
    ap.add_argument("--columns", default=None, help="comma-separated")
    ap.add_argument("--data2", default=None,
                    help="join: second encoded dataset dir")
    ap.add_argument("--where2", default=None,
                    help="join: JSON predicate list for --data2")
    ap.add_argument("--columns2", default=None,
                    help="join: projected columns from --data2")
    ap.add_argument("--on", default=None,
                    help="join key column(s), comma-separated")
    ap.add_argument("--how", default="inner", choices=["inner", "left"],
                    help="join type (left preserves --data's rows)")
    ap.add_argument("--col", default=None,
                    help="topk sort / distinct column")
    ap.add_argument("--value", default=None,
                    help="aggregate value column(s), comma-separated")
    ap.add_argument("--by", default=None,
                    help="GROUP BY column(s), comma-separated")
    ap.add_argument("-k", type=int, default=100, help="topk k")
    ap.add_argument("--desc", action="store_true")
    ap.add_argument("--cluster-by", default=None, help="ctas re-cluster")
    ap.add_argument("--output", default=None,
                    help="parquet dir (scan/topk; optional for "
                         "group/distinct) or ctas dst dir")
    ap.add_argument("--limit", type=int, default=1000,
                    help="max rows printed when no --output is given")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    if args.cpus:
        from rlv.session import make_session

        spark = make_session(args.cpus, app="rlv-query")
    else:
        spark = SparkSession.builder.appName("rlv-query").getOrCreate()
        spark.sparkContext.setLogLevel("WARN")

    from pyspark.sql import functions as F

    from rlv import table_files as TF

    preds = _preds(args.where)
    cols = _columns(args.columns)
    out: dict = {"action": args.action}

    def _emit(df, need_output: bool):
        if args.output:
            df.write.mode("error").parquet(args.output)
            out["output"] = args.output
            out["rows"] = spark.read.parquet(args.output).count()
        elif need_output:
            raise SystemExit(f"{args.action} requires --output")
        else:
            rows = df.limit(args.limit + 1).collect()
            out["rows"] = [r.asDict() for r in rows[:args.limit]]
            out["truncated"] = len(rows) > args.limit

    if args.action == "scan":
        if not preds:
            ap.error("scan requires --where")
        _emit(TF.scan_table_files_where(spark, args.data, preds,
                                        columns=cols), True)
    elif args.action == "minmax":
        if not args.value or not preds:
            ap.error("minmax requires --value and --where")
        _emit(TF.minmax_table_files_where(spark, args.data, args.value,
                                          preds), False)
    elif args.action == "count":
        # no --where: count(*) from the manifest alone (zero file IO)
        _emit(TF.count_table_files_where(spark, args.data, preds or []),
              False)
    elif args.action == "agg":
        if not args.value or not preds:
            ap.error("agg requires --value and --where")
        value = (
            args.value.split(",") if "," in args.value else args.value
        )
        rows = [
            r.asDict()
            for r in TF.agg_table_files_where(
                spark, args.data, value, preds
            ).collect()
        ]
        for row in rows:
            row["sum_val"] = (
                str(row["sum_val"]) if row["sum_val"] is not None
                else None
            )
        out["result"] = rows[0] if isinstance(value, str) else rows
    elif args.action == "group":
        if not args.value or not args.by:
            ap.error("group requires --value and --by")
        by = args.by.split(",") if "," in args.by else args.by
        df = TF.agg_table_files_by(
            spark, args.data, args.value, by, preds=preds
        ).withColumn("sum_val", F.col("sum_val").cast("string"))
        _emit(df, False)
    elif args.action == "topk":
        if not args.col:
            ap.error("topk requires --col")
        _emit(TF.topk_table_files(
            spark, args.data, args.col, args.k,
            ascending=not args.desc, columns=cols, preds=preds,
        ), False)
    elif args.action == "distinct":
        if not args.col:
            ap.error("distinct requires --col")
        _emit(TF.distinct_table_files(spark, args.data, args.col,
                                      preds=preds), False)
    elif args.action == "ndv":
        if not args.col:
            ap.error("ndv requires --col")
        out["result"] = TF.ndv_table_files(
            spark, args.data, args.col, preds=preds
        ).collect()[0].asDict()
    elif args.action == "stats":
        _emit(TF.stats_table_files(spark, args.data), False)
    elif args.action == "explain":
        if not preds:
            ap.error("explain requires --where")
        out["result"] = TF.explain_scan_table_files(
            spark, args.data, preds, columns=cols
        ).collect()[0].asDict()
    elif args.action == "explain-agg":
        if not preds or not args.value:
            ap.error("explain-agg requires --where and --value")
        value = (
            args.value.split(",") if "," in args.value else args.value
        )
        out["result"] = TF.explain_agg_table_files(
            spark, args.data, value, preds
        ).collect()[0].asDict()
    elif args.action == "join":
        if not args.data2 or not args.on:
            ap.error("join requires --data2 and --on")
        on = _columns(args.on)
        df, plan = TF.join_table_files(
            spark, args.data, args.data2, on,
            preds_a=preds, preds_b=_preds(args.where2),
            columns_a=cols, columns_b=_columns(args.columns2),
            return_plan=True, how=args.how,
        )
        out["plan"] = plan
        _emit(df, True)
    else:  # ctas
        if not args.output or not preds:
            ap.error("ctas requires --output and --where")
        summary = TF.ctas_table_files(
            spark, args.data, args.output, preds,
            columns=cols, cluster_by=args.cluster_by,
        )
        out["result"] = {
            k: v for k, v in summary.items()
            if isinstance(v, (int, float, str))
        }
        out["output"] = args.output

    print(json.dumps(out, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
