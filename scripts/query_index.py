"""spark-submit entry point for serving BM25 top-k queries over a built index.

Usage::

    spark-submit --py-files /tmp/miru_spark.zip scripts/query_index.py \
        --index /path/to/index --query "spark AND query" -k 10
    python scripts/query_index.py --index /tmp/idx --query "quer*" --cores 8 --wand
    python scripts/query_index.py --index /tmp/idx --queries-file batch.json -k 10

Batch mode (``--queries-file``, JSON {id: query} or one query per line)
answers every query in ONE shared WAND kernel pass (``search_batch``) and
reports total + amortized per-query latency.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--query", default=None)
    g.add_argument("--queries-file", default=None, metavar="FILE",
                   help="batch mode: JSON object {query_id: query} or one "
                        "query per line; all queries share ONE WAND kernel "
                        "pass (search_batch)")
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--wand", action="store_true", help="block-max WAND path (flat term list)")
    ap.add_argument("--or", dest="use_or", action="store_true",
                    help="with --wand: disjunctive (OR) scoring instead of AND")
    ap.add_argument("--after", default=None, metavar="SCORE,DOC_ID",
                    help="keyset continuation cursor: last hit of the previous page")
    ap.add_argument("--gather", default=None, metavar="COL,COL",
                    help="stored doc-store columns joined onto the top-k "
                         "(lazy gather — the join runs over <= k rows)")
    ap.add_argument("--cores", default=None)
    args = ap.parse_args()

    # flag-conflict validation BEFORE Spark session / IndexReader
    # construction — a bad invocation should fail in milliseconds, not
    # after paying full JVM startup.
    if args.queries_file and (args.wand or args.use_or or args.after):
        ap.error("--queries-file cannot combine with --wand/--or/--after "
                 "(batch mode uses the parsed-grammar shared-scan path)")

    from miru_spark.index.reader import IndexReader
    from miru_spark.query.bm25 import search, search_wand
    from miru_spark.session import get_spark

    if args.cores is not None:
        spark = get_spark("miru_spark_query", cores=args.cores)
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("miru_spark_query").getOrCreate()

    reader = IndexReader(spark, args.index)
    after = None
    if args.after:
        s, d = args.after.split(",")
        after = (float(s), int(d))
    gather = [c.strip() for c in args.gather.split(",") if c.strip()] \
        if args.gather else None

    def _hit(r):
        h = {"doc_id": r["doc_id"], "score": round(r["score"], 6)}
        for c in gather or []:
            h[c] = r[c] if not hasattr(r[c], "isoformat") else r[c].isoformat()
        return h

    if args.queries_file:
        from miru_spark.query.bm25 import search_batch

        with open(args.queries_file) as f:
            raw = f.read()
        try:
            parsed = json.loads(raw)
        except ValueError:
            parsed = None
        if isinstance(parsed, dict):
            qmap = {str(k): str(v) for k, v in parsed.items()}
        elif isinstance(parsed, list):
            # JSON array of query strings: enumerate like line mode
            qmap = {f"q{i:04d}": str(q) for i, q in enumerate(parsed)}
        elif isinstance(parsed, str):
            qmap = {"q0000": parsed}
        elif parsed is not None:
            ap.error(f"--queries-file: expected a JSON object/array or "
                     f"query lines, got {type(parsed).__name__}")
        else:
            lines = [ln.strip() for ln in raw.splitlines() if ln.strip()]
            qmap = {f"q{i:04d}": q for i, q in enumerate(lines)}
        t0 = time.monotonic()
        rows = search_batch(
            reader, qmap, k=args.k, gather_fields=gather).collect()
        dt = time.monotonic() - t0
        hits: dict[str, list] = {qid: [] for qid in qmap}
        for r in rows:
            hits[r["query_id"]].append(_hit(r))
        print(json.dumps({
            "queries": len(qmap),
            "k": args.k,
            "latency_sec": round(dt, 4),
            "latency_per_query_sec": round(dt / max(len(qmap), 1), 4),
            "hits": hits,
        }))
        return

    t0 = time.monotonic()
    if args.wand:
        from miru_spark.analysis.tokenizer import tokenize

        terms = tokenize(args.query, locale=reader.stats.get("locale"))
        out = search_wand(reader, terms, k=args.k,
                          mode="or" if args.use_or else "and", after=after,
                          gather_fields=gather)
    else:
        out = search(reader, args.query, k=args.k, after=after,
                     gather_fields=gather)
    rows = out.collect()
    dt = time.monotonic() - t0
    print(
        json.dumps(
            {
                "query": args.query,
                "k": args.k,
                "latency_sec": round(dt, 4),
                "hits": [_hit(r) for r in rows],
            }
        )
    )


if __name__ == "__main__":
    main()
