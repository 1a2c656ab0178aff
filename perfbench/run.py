#!/usr/bin/env python3
"""Run one benchmark workload against the miru_spark package of this checkout.

    python3 perfbench/run.py --workload {ingest,search} --seed N --seconds S --trace {0,1}

``setup_s`` is the Spark session start, plus the median of ``SETUP_REPS``
repetitions of the workload's set-up, plus its warm-up (untimed work, so
the timed phase does not pay the JVM's first-use costs). The timed
phase then runs closed loop for ``--seconds`` in whole rounds (search)
or cycles (ingest), so the last one overruns. Answers are checked
against the DuckDB oracle afterwards. With ``--trace 0`` the result
carries the end-to-end metrics of BENCHMARK.json. With ``--trace 1``
the Spark event log is on, the timed phase runs at least two rounds and
traces every other call (``workloads.py``), and the result carries the
per-layer metrics, including the tracing overhead: traced minus
untraced calls of the same phase. The event-log listener is on for
both, so its own cost is not in that difference.

Stdout: one line per metric (name, value, unit, better), then the result
as one JSON line. A record with the environment, corpus shape, failures
and (traced) spans goes to ``perfbench/out/<run>/``. Spark local dirs,
corpora and indexes live in ``perfbench/out/tmp-<pid>/`` and are removed
at exit. Exits 2 when the checkout has no ``miru_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SETUP_REPS = 3
CORES = 4
DRIVER_MEM = "2g"


def _prepare_env(tmp: str) -> None:
    """Keep every file Spark and its workers write inside ``tmp`` and put
    the checkout's package on the Python workers' path."""
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(path),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "MIRU_SPARK_DRIVER_MEM": DRIVER_MEM,
    })
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _start_spark(tmp: str, event_dir: str | None):
    from miru_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # a fixed heap keeps the JVM's footprint from drifting with GC sizing
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    return get_spark("perfbench", cores=CORES, shuffle_partitions=CORES, extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM (it exits when its stdin
    closes), and wait until no process this run started is left."""
    import procstat
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while procstat.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _tokenize_check(wl, frame, seed: int) -> None:
    """The oracle splits on single spaces; the engine analyzer must agree."""
    from miru_spark.analysis.tokenizer import tokenize

    sample = frame["text"].sample(200, random_state=seed % (2 ** 32)).tolist()
    wl.attempted += 1
    bad = [t for t in sample if tokenize(t) != t.split(" ")]
    if bad:
        wl.fail(f"tokenize() differs from whitespace split on {len(bad)} sampled docs")


def _micro(seed: int, frame) -> dict:
    """Driver-side layer rates: tokenize() over a doc sample and the codec
    over a seeded sample of posting blocks (MB of int64 doc ids)."""
    import numpy as np
    from miru_spark.analysis.tokenizer import tokenize
    from miru_spark.index import codec

    texts = frame["text"].sample(300, random_state=seed % (2 ** 32)).tolist()
    toks, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.3:
        toks += sum(len(tokenize(t)) for t in texts)
    tok_rate = toks / (time.perf_counter() - t0)

    rng = np.random.default_rng([seed, 5])
    blocks = []
    for b in range(256):
        base = b << 10
        ids = np.sort(rng.choice(1024, int(rng.integers(8, 1024)), replace=False)) + base
        blocks.append((ids.astype(np.int64), base))
    mb = sum(ids.nbytes for ids, _ in blocks) / 1e6
    bufs, n, t0 = [], 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.3:
        bufs = [codec.encode_block_docids(ids, base) for ids, base in blocks]
        n += 1
    enc = mb * n / (time.perf_counter() - t0)
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.3:
        for buf, (ids, base) in zip(bufs, blocks):
            codec.decode_block_docids(buf, base)
        n += 1
    dec = mb * n / (time.perf_counter() - t0)
    for buf, (ids, base) in zip(bufs, blocks):
        if not np.array_equal(codec.decode_block_docids(buf, base), ids):
            raise AssertionError("codec round trip lost doc ids")
    return {"analysis.tokenize.tokens_per_s": tok_rate,
            "index.codec.encode_mb_per_s": enc, "index.codec.decode_mb_per_s": dec}


def _span_measure(sp, measure: str) -> float:
    agg = sp.agg
    jvm, py = sp.cpu1[0] - sp.cpu0[0], sp.cpu1[1] - sp.cpu0[1]
    if measure == "wall_s":
        return sp.wall_s
    if measure == "jvm_cpu_s":
        return jvm
    if measure == "python_cpu_s":
        return py
    if measure == "busy_cpus":
        return (jvm + py) / sp.wall_s if sp.wall_s > 0 else 0.0
    if measure == "docs_per_s":
        return sp.attrs["docs"] / sp.wall_s
    if measure == "shuffle_bytes":
        return agg.get("shuffle_write_bytes", 0.0)
    if measure in sp.attrs:
        return float(sp.attrs[measure])
    return float(agg.get(measure, 0.0))


def _per_layer(spec, tracer, wl, micro, untraced, traced, host) -> dict:
    spans = {}
    for sp in tracer.spans:
        spans.setdefault(sp.name, []).append(sp)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    singles = wl.singles()
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in micro:
            out[name] = micro[name]
        elif name.startswith("trace.overhead."):
            k = name[len("trace.overhead."):]  # how much worse the traced calls read
            sign = 1.0 if better[k] == "lower" else -1.0
            out[name] = sign * (traced[k] - untraced[k])
        elif name == "query.p90_s":
            out[name] = singles[min(len(singles) - 1, int(0.9 * len(singles)))] if singles else 0.0
        elif name == "query.samples":
            out[name] = float(len(singles))
        elif name in wl.layer:
            out[name] = statistics.median(wl.layer[name])
        elif name.startswith("host."):
            out[name] = host[name]
        else:
            span_name, _, measure = name.rpartition(".")
            vals = [_span_measure(sp, measure) for sp in spans.get(span_name, [])]
            out[name] = statistics.median(vals) if vals else 0.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "miru_spark")):
        print(f"perfbench: no miru_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import procstat
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    traced = bool(args.trace)
    run_id = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}"
    out_dir = os.path.join(HERE, "out", run_id)
    tmp = os.path.join(HERE, "out", f"tmp-{os.getpid()}")
    event_dir = os.path.join(out_dir, "eventlog") if traced else None
    os.makedirs(event_dir or out_dir, exist_ok=True)
    _prepare_env(tmp)

    spark = None
    try:
        with procstat.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = _start_spark(tmp, event_dir)
            session_s = time.perf_counter() - t0
            env = procstat.environment(spark, ROOT, args.seed)
            tracer = Tracer(spark)
            wl = WORKLOADS[args.workload](spark, tracer, tmp, args.seed)
            setup_s = []
            for rep in range(SETUP_REPS):
                tracer.enabled = traced and rep % 2 == 1
                t0 = time.perf_counter()
                wl.setup()
                setup_s.append(time.perf_counter() - t0)
            tracer.enabled = False
            t0 = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t0

            steal0, total0, busy0 = procstat.host_ticks()
            t0 = time.time()
            wl.alternate = traced
            wl.run(args.seconds, min_rounds=2 if traced else 1)
            untraced = wl.metrics(traced=False)
            micro = traced_m = {}
            if traced:
                traced_m = wl.metrics(traced=True)
                tracer.enabled = True
                wl.trace_extra()
                tracer.enabled = False
                micro = _micro(args.seed, wl.sample_frame())
            steal1, total1, busy1 = procstat.host_ticks()
            host = {
                "host.steal_frac": (steal1 - steal0) / max(1, total1 - total0),
                "host.busy_cpus": (busy1 - busy0) / max(1, total1 - total0) * env["nproc"],
                "timed_wall_s": time.time() - t0,
            }
            _stop_spark(spark)
            spark = None
            peak_rss_mb = rss.peak_bytes / 2 ** 20
            host["peak_rss_mb_by_process"] = {k: v / 2 ** 20 for k, v in rss.peak_by_comm.items()}

        _tokenize_check(wl, wl.sample_frame(), args.seed)
        wl.verify()
        failed = len(wl.failures)
        attempted = max(1, wl.attempted)
        if traced:
            tracer.attach_event_log(event_dir)
            tracer.dump(os.path.join(out_dir, "spans.jsonl"))
            metrics = _per_layer(spec, tracer, wl, micro, untraced, traced_m, host)
            listed = spec["per_layer"]
        else:
            metrics = dict(untraced)
            metrics.update({
                "setup_s": session_s + statistics.median(setup_s) + warm_s,
                "ok_rate": 1.0 - failed / attempted,
                "peak_rss_mb": peak_rss_mb,
            })
            listed = spec["end_to_end"]
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                              for m in listed}}
        record = {"run": run_id, "workload": args.workload, "seconds": args.seconds,
                  "trace": traced, "env": env, "corpus": wl.shape, "session_s": session_s,
                  "warm_s": warm_s, "setup_s": setup_s, "host": host, "rounds": wl.round,
                  "untraced": untraced, "traced_calls": traced_m, "builds": wl.build_s,
                  "latencies": wl.lat, "failures": wl.failures[:50], "result": result}
        with open(os.path.join(out_dir, "record.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
    except Exception:
        traceback.print_exc()
        if spark is not None:
            _stop_spark(spark)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    for m in listed:
        better = m.get("better", "")
        print(f"{m['name']:<48} {metrics[m['name']]:>16.6g} {m['unit']:<10} {better}")
    for fl in wl.failures[:10]:
        print(f"FAILED: {fl}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
