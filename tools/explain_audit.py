"""Physical-plan audit: assert the plans we want at 100 TB scale.

Checks, per headline query:
- term predicates reach the parquet scan (PushedFilters on postings);
- small sides broadcast (BroadcastHashJoin / BroadcastExchange), big
  sides never build-side of a shuffle join;
- scans are columnar (Batched: true) and aggregates have map-side
  partial stages (AQE hides codegen wrappers until execution, so those
  two markers stand in for WholeStageCodegen);
- no accidental CartesianProduct (the ANN crossJoin against a broadcast
  query batch compiles to BroadcastNestedLoopJoin — intended);
- ranked and TIME BM25 queries run one block-max WAND kernel pass per
  execution (one ``MapInPandas _wand`` node), no SortMergeJoin and no
  CartesianProduct.

Usage: python tools/explain_audit.py [sf_dir]
Exits non-zero if a MUST marker is missing.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def executed_plans(spark, fn) -> list[str]:
    """The final physical plans of the SQL executions ``fn`` runs."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    bus.waitUntilEmpty()
    before = max((e.executionId() for e in executions()), default=-1)
    fn()
    bus.waitUntilEmpty()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() > before]


def kernel_nodes(desc: str) -> int:
    """``MapInPandas _wand`` nodes in the final plan of a formatted plan
    description (AQE lists the initial plan's nodes too)."""
    tree = desc.split("== Initial Plan ==")[0]
    details = {d.split("\n", 1)[0]: d for d in desc.split("\n\n")}
    return sum("Arguments: _wand(" in details.get(f"({i}) MapInPandas", "")
               for i in re.findall(r"MapInPandas \((\d+)\)", tree))


def main() -> int:
    import __spark_entry__ as E
    from miru_spark.session import get_spark

    spark = get_spark("explain_audit", cores=8, shuffle_partitions=8)
    failures = []

    def check(name, df, must=(), must_not=()):
        p = plan_of(df)
        for m in must:
            if m not in p:
                failures.append(f"{name}: missing {m}")
        for m in must_not:
            if m in p:
                failures.append(f"{name}: unexpected {m}")
        print(f"-- {name}: "
              + ", ".join(f"{m}={'Y' if m in p else 'N'}" for m in set(must) | set(must_not)))

    r = E._reader(spark, sf_dir)

    # postings term lookup: pushdown is what makes query latency
    # independent of index size
    check(
        "postings_term_scan",
        r.blocks(terms=["spark", "query"]),
        must=["PushedFilters", "Batched: true"],
    )

    from miru_spark.query.bm25 import search, search_time_newest

    # a text-term boolean query runs ONE block-max WAND kernel pass: one
    # MapInPandas _wand node and no per-leaf candidate SortMergeJoin (the
    # candidate-join plan's marker). Counted on the executed plan. The
    # plan has no join at all (the idf rides the kernel's arguments), so
    # there is no BroadcastHashJoin to require
    df = search(r, "spark AND query", k=10)
    df.collect()
    p = plan_of(df).split("== Initial Plan ==")[0]
    n_kernel = p.count("MapInPandas _wand")
    print(f"-- bm25_index_search: kernel passes={n_kernel} (want 1), "
          + ", ".join(f"{m}={'Y' if m in p else 'N'}" for m in (
              "SortMergeJoin", "CartesianProduct", "PushedFilters",
              "TakeOrderedAndProject")))
    if n_kernel != 1 or "SortMergeJoin" in p:
        failures.append(f"bm25_index_search: {n_kernel} kernel passes (want 1) "
                        "or a SortMergeJoin")
    if "CartesianProduct" in p:
        failures.append("bm25_index_search: unexpected CartesianProduct")
    for m in ("PushedFilters", "TakeOrderedAndProject"):
        if m not in p:
            failures.append(f"bm25_index_search: missing {m}")

    # TIME: each deepening round collects one kernel pass; the answer
    # is served as a local relation, so the audit reads the plans of
    # the SQL executions the call ran
    plans = executed_plans(spark, lambda: search_time_newest(
        r, "spark AND query", k=10, first_span=1).collect())
    per_run = [kernel_nodes(pl) for pl in plans]
    smj = any("SortMergeJoin" in pl for pl in plans)
    cart = any("CartesianProduct" in pl for pl in plans)
    print(f"-- bm25_time_newest: kernel passes per execution={per_run} "
          f"(want each <= 1, some 1), SortMergeJoin={'Y' if smj else 'N'}, "
          f"CartesianProduct={'Y' if cart else 'N'}")
    if not per_run or max(per_run) != 1 or smj or cart:
        failures.append(f"bm25_time_newest: kernel passes per execution {per_run} "
                        "(want each <= 1, some 1), a SortMergeJoin or a CartesianProduct")

    # positional phrase: term filter must reach the positions parquet
    # scan, and the whole plan stays index-side (no text relation)
    check(
        "bm25_phrase_positional",
        E.q_bm25_phrase_positional(spark, sf_dir),
        must=["PushedFilters", "TakeOrderedAndProject"],
        must_not=["CartesianProduct"],
    )

    # batch serving: flat, fielded, NOT and phrase queries all ride ONE
    # WAND kernel pass over one shared block exchange, with no separate
    # postings decode, and the mixed batch adds one exchange after the
    # kernel. Counted on the executed plan: the text phrase
    # verify reads the kernel's answers through an exchange that AQE
    # reuses, which only the final adaptive plan shows
    from miru_spark.query.bm25 import search_batch

    tdf = E._read(spark, sf_dir, "documents")
    mix = {"a": "spark AND query", "f": "lang:en AND spark", "n": "spark NOT merge"}
    phrase = {"a": "spark AND query", "p": 'data AND "table hash"'}
    for name, df in (
        ("mix", search_batch(r, mix, k=10)),
        ("phrase", search_batch(r, phrase, k=10, text_df=tdf)),
        ("phrase_text", search_batch(r, phrase, k=10, text_df=tdf, phrase_via="text")),
    ):
        df.collect()
        p = plan_of(df).split("== Initial Plan ==")[0]
        n_kernel, n_decode = p.count("MapInPandas _wand"), p.count("MapInPandas _decode")
        print(f"-- bm25_batch_shared[{name}]: kernel passes={n_kernel} (want 1), "
              f"decodes={n_decode} (want 0), "
              f"CartesianProduct={'Y' if 'CartesianProduct' in p else 'N'}")
        if n_kernel != 1 or n_decode:
            failures.append(
                f"bm25_batch_shared[{name}]: {n_kernel} kernel passes, "
                f"{n_decode} postings decodes (want 1 and 0)")
        if "CartesianProduct" in p:
            failures.append(f"bm25_batch_shared[{name}]: CartesianProduct")
        if name == "mix":
            # above the kernel only the window's query_id exchange: the
            # presentation order coalesces into the window stage
            above = p[:p.index("MapInPandas _wand")] if n_kernel else p
            n_above = sum(1 for ln in above.splitlines()
                          if ln.strip(" +-:").startswith("Exchange "))
            print(f"-- bm25_batch_shared[mix]: exchanges above kernel={n_above} "
                  f"(want 1), REPARTITION_BY_NUM={'Y' if 'REPARTITION_BY_NUM' in p else 'N'}")
            if n_above != 1 or "REPARTITION_BY_NUM" in p:
                failures.append(
                    f"bm25_batch_shared[mix]: {n_above} exchanges above the kernel "
                    "(want 1) or a REPARTITION_BY_NUM exchange")

    check(
        "q1_pricing",
        E.q_q1_pricing(spark, sf_dir),
        must=["Batched: true", "PushedFilters", "partial_"],
        must_not=["CartesianProduct"],
    )

    check(
        "reco_cf",
        E.q_reco_cf(spark, sf_dir),
        must=["BroadcastHashJoin"],
        must_not=["CartesianProduct"],
    )

    check(
        "ann_cosine_topk",
        E.q_ann_cosine_topk(spark, sf_dir),
        must=["BroadcastNestedLoopJoin"],  # corpus scan x broadcast query batch
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    check(
        "ngram_jaccard",
        E.q_ngram_jaccard(spark, sf_dir),
        must=["Batched: true", "partial_"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )

    # marks side must broadcast (a per-user trickle vs the event stream):
    # the user equality is the hash key and the coverage condition rides
    # along as an extra join predicate — BroadcastHashJoin, never a
    # shuffle of the event stream for the join itself
    check(
        "inbox_unread",
        E.q_inbox_unread(spark, sf_dir),
        must=["BroadcastHashJoin", "partial_"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    # model fit must be ONE scan of events (melt via explode, no union
    # of per-feature scans) with map-side partial aggregation
    plan = plan_of(E.q_catwalk_model(spark, sf_dir))
    n_scans = plan.count("events.parquet")
    if n_scans != 1:
        failures.append(f"catwalk_model: expected 1 events scan, found {n_scans}")
    print(f"-- catwalk_model: single_scan={'Y' if n_scans == 1 else 'N'}, "
          f"partial_={'Y' if 'partial_' in plan else 'N'}")
    if "partial_" not in plan:
        failures.append("catwalk_model: missing partial_ aggregation")

    # phrase plan: pushed term filters feed the posting AND; the verify
    # join against the source table must hash-join (broadcast or shuffle,
    # keyed on doc_id), never a nested-loop over the corpus
    check(
        "bm25_phrase",
        E.q_bm25_phrase(spark, sf_dir),
        must=["PushedFilters", "TakeOrderedAndProject"],
        must_not=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )

    # per-domain cap + hash sample: columnar scans, no corpus-wide
    # collect; the cap's window sort partitions by key (bounded state)
    check(
        "domain_cap",
        E.q_domain_cap(spark, sf_dir),
        must=["Batched: true"],
        must_not=["CartesianProduct"],
    )

    from miru_spark.pipeline.sampling import sample_by_hash

    check(
        "sample_hash",
        sample_by_hash(E._read(spark, sf_dir, "documents"), "doc_id", 0.25, seed=7),
        must=["Batched: true"],
        must_not=["CartesianProduct", "Exchange"],  # pure filter: NO shuffle
    )

    # connected components: the star rounds are bounded joins/aggs — the
    # final plan (post-iteration) must stay hash-joined, no cartesian
    check(
        "dedup_components",
        E.q_dedup_components(spark, sf_dir),
        must=["Batched: true"],
        must_not=["CartesianProduct"],
    )

    # sequence packing: exactly ONE exchange (the bucket groupBy);
    # the greedy pack itself is bucket-local (FlatMapGroupsInPandas)
    plan = plan_of(E.q_pack_sequences(spark, sf_dir))
    n_ex = plan.count("Exchange")
    print(f"-- pack_sequences: exchanges={n_ex}, "
          f"grouped_pandas={'Y' if 'FlatMapGroupsInPandas' in plan else 'N'}")
    if n_ex != 1:
        failures.append(f"pack_sequences: expected 1 Exchange, found {n_ex}")
    if "FlatMapGroupsInPandas" not in plan:
        failures.append("pack_sequences: missing FlatMapGroupsInPandas")
    if "CartesianProduct" in plan:
        failures.append("pack_sequences: unexpected CartesianProduct")

    from miru_spark.query.bm25 import search_wand

    check(
        "bm25_wand_or",
        search_wand(r, ["spark", "query"], k=10, mode="or"),
        must=["PushedFilters", "TakeOrderedAndProject"],
        must_not=["CartesianProduct"],
    )

    print()
    if failures:
        print("PLAN AUDIT FAILURES:")
        for f in failures:
            print("  " + f)
        return 1
    print("PLAN AUDIT OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
