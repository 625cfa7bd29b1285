"""CLI entry point — the spark-submit surface.

Cluster launch (north rule: spark-submit --py-files on multi-executor
clusters):

    zip -r pubmedkb_web_spark.zip pubmedkb_web_spark
    spark-submit --py-files pubmedkb_web_spark.zip \
        pubmedkb_web_spark/__main__.py build --out file:///data/kb --docs 1000000

Checkpoint roots are local paths or ``file:`` URIs (on a cluster, a path
every executor mounts); any other scheme is rejected before a job runs.

Local:

    python -m pubmedkb_web_spark build --out /tmp/kb --docs 2000
    python -m pubmedkb_web_spark query --kb /tmp/kb --gene braf
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _session(args):
    from pyspark.sql import SparkSession

    # under spark-submit the master/memory come from the submit command;
    # builder settings here only fill in local defaults
    from .session import build_session

    if SparkSession.getActiveSession() is not None:
        return SparkSession.getActiveSession()
    return build_session(cores=args.cores, shuffle_partitions=args.cores)


def cmd_build(args) -> None:
    from .pipeline import runner

    spark = _session(args)
    t0 = time.time()
    tables = runner.run_kg_pipeline(
        spark, args.out, n_docs=args.docs, resume=not args.no_resume
    )
    n = tables["triples"].count()
    dt = time.time() - t0
    stages = {
        name: {"rows": r.row_count, "sec": r.seconds, "recomputed": r.recomputed}
        for name, r in tables["_pipeline"].results.items()
    }
    print(json.dumps({"triples": n, "sec": round(dt, 2),
                      "triples_per_sec": round(n / dt, 2), "stages": stages}))


def cmd_query(args) -> None:
    from .query import rel
    from .sources.tables import read_table

    spark = _session(args)
    postings = read_table(spark, args.kb, "entity_postings")
    annotations = read_table(spark, args.kb, "annotations")
    sentences = read_table(spark, args.kb, "sentences")
    meta = read_table(spark, args.kb, "meta")
    if args.spec:
        tree = _parse_spec(json.loads(args.spec))
    elif args.gene:
        tree = ("type_name", ("Gene", args.gene))
    else:
        raise SystemExit("need --spec or --gene")
    res = rel.run_rel(
        postings, annotations, sentences, meta,
        e1_spec=tree, sort_key=args.sort, page_start=args.start, page_end=args.end,
    )
    for row in res.papers.collect():
        print(json.dumps(row.asDict(), default=str))
    print(json.dumps({"statistics": res.statistics}))


def _parse_spec(node):
    """JSON ['AND', [...]] / ['type_id', ['Gene','X']] → internal tuples."""
    op = node[0]
    if op in ("type_id", "type_name"):
        return (op, (node[1][0], node[1][1]))
    return (op, tuple(_parse_spec(b) for b in node[1]))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="pubmedkb_web_spark")
    p.add_argument(
        "--cores", type=int, help="local task slots (default: $SPARK_GRAFT_CPUS, else all)"
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="run the M0-M4 KG construction pipeline")
    b.add_argument("--out", required=True)
    b.add_argument("--docs", type=int, default=1000)
    b.add_argument("--no-resume", action="store_true")
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="run a /query_rel-equivalent over a built KB")
    q.add_argument("--kb", required=True)
    q.add_argument("--spec", help='JSON s-expression, e.g. \'["type_name",["Gene","braf"]]\'')
    q.add_argument("--gene")
    q.add_argument("--sort", default="relevance")
    q.add_argument("--start", type=int, default=0)
    q.add_argument("--end", type=int, default=10)
    q.set_defaults(fn=cmd_query)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
