"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Runs from the root of a source checkout on local[<nproc>]. Its only
engine setting is SPARK_GRAFT_CPUS; with --trace 1 it also turns on the
Spark event log through submit-time conf (PYSPARK_SUBMIT_ARGS), which
leaves the session factory untouched. SPARK_LOCAL_DIRS and TMPDIR point
into the run's data directory, so scratch files stay in the checkout.

Sequence: generate the seeded inputs under perfbench/_data (not timed),
start the session and warm the Python workers, run the workload's own
set-up SETUP_REPS times, run the workload's discarded warm-up operations,
then run operations back to back -- the next starts when the previous
returns -- while they fit in --seconds. Every operation's output is
checked afterwards; an operation that raised or answered wrong counts as
failed, and the loop goes on.

The timed figure is the run's median operation; for a workload whose
operations take turns among several kinds, it is the median pass: the
sum over the kinds of each kind's median operation.

The last stdout line is one JSON object: correct, attempted, failed and
metrics -- the end_to_end metrics of BENCHMARK.json with --trace 0, its
per_layer metrics with --trace 1. Per-run details (sizes, every latency,
the tail rule) go to stderr. The traced run alternates traced and
untraced operations (their median ratio is the tracing overhead) and
writes its spans and every per-layer number to
perfbench/_out/trace-<workload>-<seed>.json.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import pandas as pd  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import trace as tr  # noqa: E402
from perfbench.trace import median  # noqa: E402

SETUP_REPS = 3
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def closed_loop(op, seconds: float, min_ops: int = 1):
    """Run op(i) back to back, at least `min_ops` times. Another op
    starts only while the time used so far plus the median op still fits
    in `seconds`. Returns [(index, latency_s, result or None, error or None)]."""
    out = []
    start = time.perf_counter()
    i = 0
    while len(out) < min_ops or time.perf_counter() - start + median([x[1] for x in out]) <= seconds:
        t = time.perf_counter()
        try:
            res, err = op(i), None
        except Exception as e:  # a raising op is a failed op; the loop goes on
            traceback.print_exc(file=sys.stderr)
            res, err = None, f"{type(e).__name__}: {e}"
        out.append((i, time.perf_counter() - t, res, err))
        i += 1
    return out


def score(ops, checks):
    """(attempted, failed, ok_frac, recall) from the loop's ops and the
    per-op (ok, recall) verdicts of the check; recall None means the op
    has no approximate answer. An op that raised, or has no passing
    verdict, is failed and recovered nothing."""
    failed, recalls = 0, []
    for i, _lat, _res, err in ops:
        ok, rec = checks.get(i, (False, 0.0)) if err is None else (False, 0.0)
        failed += not ok
        if rec is not None:
            recalls.append(rec)
    attempted = len(ops)
    return attempted, failed, (attempted - failed) / max(1, attempted), median(recalls)


def median_pass(ops, kinds: int = 1) -> float:
    """The median latency of the ops that returned; with `kinds` > 1
    (op i is of kind i % kinds) the sum of each kind's median."""
    return sum(
        median([lat for i, lat, _res, err in ops if err is None and i % kinds == k])
        for k in range(kinds)
    )


def end_to_end_values(setup_s, ops, kinds, store_bytes, input_bytes, ok_frac, recall) -> dict:
    return {
        "setup_s": setup_s,
        "op_p50_s": median_pass(ops, kinds),
        "store_bytes_per_input_byte": store_bytes / input_bytes,
        "ok_ops_frac": ok_frac,
        "answer_recall": recall,
    }


def is_traced(i: int) -> bool:
    """Traced run: ops alternate traced/untraced in the order T U U T T U
    ..., so a steady drift (JIT warm-up) cancels out of the overhead."""
    return (i + 1) // 2 % 2 == 0


def layer_values(spans, extra, ops, get_spark_s, store_bytes, peak_rss_bytes, kinds=1):
    """Per-layer numbers of the traced run: (every, printed). `every`
    holds medians per span name plus the workload's own ratios and
    probes; `printed` is the per_layer section of BENCHMARK.json, which
    every workload reports. The op-level counts are medians over the
    traced ops of each op's own jobs (its layer calls and their eager
    construction jobs)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    op_spans = [s for s in spans if s["kind"] == "op"]

    def per_op(kind):
        vals = []
        for op in op_spans:
            todo, total = list(kids.get(op["id"], [])), 0.0
            while todo:
                s = todo.pop()
                if s["kind"] == kind:
                    total += s["wall_s"]
                todo.extend(kids.get(s["id"], []))
            vals.append(total)
        return median(vals)

    def op_median(key):
        return median([s[key] for s in op_spans])

    every: dict[str, float] = {"session.get_spark.wall_s": get_spark_s}
    for name in sorted({s["name"] for s in spans if s["kind"] not in ("op", "setup")}):
        mine = [s for s in spans if s["name"] == name]
        for key in tr.COUNTS + ("wall_s", "self_s", "parallelism"):
            every[f"{name}.{key}"] = median([s[key] for s in mine])
    every.update(extra)
    build = "sources.vecstore.doc_vector_store.build"
    every[f"{build}_s"] = every.get(f"{build}.wall_s", 0.0)
    every["sources.vecstore.doc_vector_store.bytes_written"] = store_bytes
    knn_s = every.get("operators.knn.knn_join.action.wall_s")
    if knn_s:
        every["operators.knn.knn_join.pairs_per_s"] = (
            every["operators.knn.knn_join.pairs_per_call"] / knn_s
        )
    cc = "operators.dedup.connected_components_star"
    if every.get(f"{cc}.rounds"):
        every[f"{cc}.jobs_per_round"] = every[f"{cc}.jobs"] / every[f"{cc}.rounds"]
    plain = median_pass([x for x in ops if not is_traced(x[0])], kinds)
    traced = median_pass([x for x in ops if is_traced(x[0])], kinds)
    every["trace.untraced_pass_p50_s"] = plain
    every["trace.traced_pass_p50_s"] = traced
    every["trace.overhead_frac"] = traced / plain - 1.0 if plain and traced else 0.0
    printed = {
        "session.get_spark_s": get_spark_s,
        "call.construct_s": per_op("construct"),
        "call.action_s": per_op("action"),
        **{f"call.{k}": op_median(k) for k in tr.COUNTS + ("parallelism",)},
    }
    for name in (
        "sources.vecstore.doc_vector_store.build_s",
        "sources.vecstore.doc_vector_store.open_s",
        "embedder.HashingEmbedder.embed_col.texts_per_s",
        "extractors.RuleBasedExtractor.extract.rows_per_s",
        "spark.persisted_bytes_after",
        "trace.overhead_frac",
    ):
        printed[name] = every.get(name, 0.0)  # 0 when its probe raised
    # JVM heap growth under a 16 g max heap makes this too unsteady
    # across runs to carry a bound, so it is reported here
    printed["process.peak_rss_mb"] = every["process.peak_rss_mb"] = peak_rss_bytes / 2**20
    return every, printed


def result_line(correct, attempted, failed, values: dict, section: str) -> str:
    """The final JSON line: every metric of `section` of BENCHMARK.json,
    in its order, with its unit."""
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)[section]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
         "metrics": metrics}
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each process has ended."""
    from pyspark import SparkContext

    tree = [p for p in tr.process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _warm_workers(spark) -> None:
    """One trivial pandas_udf job: forks the Python workers and loads
    pandas/pyarrow there before anything is timed."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def inc(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(64).select(inc("id")).collect()


def run(args) -> int:
    import vector_search_ner_spark  # noqa: F401 - fails fast outside a checkout

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Python workers import the engine from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    out_dir = os.path.join(HERE, "_out")
    data_dir = os.path.join(HERE, "_data", f"{args.workload}-{args.seed}-{os.getpid()}")
    log_dir = os.path.join(out_dir, f"eventlog-{os.getpid()}")
    # scratch files of Spark and Python stay inside the checkout too
    tmp_dir = os.path.join(data_dir, "tmp")
    os.makedirs(tmp_dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tempfile.tempdir = tmp_dir
    if args.trace:
        os.environ["PYSPARK_SUBMIT_ARGS"] = tr.eventlog_submit_args(log_dir)

    wl = WORKLOADS[args.workload](args.seed, data_dir)
    spark = None
    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        # the sampler's thread takes the driver's GIL from the engine's
        # py4j calls, so only the traced run has it
        with tr.RssSampler() if args.trace else contextlib.nullcontext() as rss:
            from vector_search_ner_spark.session import get_spark

            t = time.perf_counter()
            spark = get_spark("perfbench")
            get_spark_s = time.perf_counter() - t
            _warm_workers(spark)
            session_s = time.perf_counter() - PROCESS_START - gen_s
            off = tr.Tracer()
            on = tr.Tracer(spark, enabled=True) if args.trace else off
            reps = []
            for r in range(SETUP_REPS):
                t = time.perf_counter()
                with on.span("setup", kind="setup", index=r):
                    wl.setup(spark, on, r)
                reps.append(time.perf_counter() - t)
            setup_s = session_s + median(reps)

            # the traced run compares traced with untraced ops, all warm
            t = time.perf_counter()
            for k in range(max(wl.warmup_ops, args.trace)):
                wl.op(spark, off, -1 - k)
            warmup_s = time.perf_counter() - t
            if args.trace:

                def op(i):
                    if not is_traced(i):
                        return wl.op(spark, off, i)
                    with on.span("op", kind="op", index=i):
                        return wl.op(spark, on, i)

                # at least one traced and one untraced op
                ops = closed_loop(op, args.seconds, min_ops=max(2, wl.kinds))
            else:
                ops = closed_loop(lambda i: wl.op(spark, off, i), args.seconds, wl.kinds)

            if args.trace:
                rss.sample()
                peak_rss_bytes = rss.peak_bytes  # the checks below are not the user's work
            t = time.perf_counter()
            try:
                checks = wl.check(spark, {i: res for i, _l, res, err in ops if err is None})
            except Exception:  # a check that cannot run fails every op
                traceback.print_exc(file=sys.stderr)
                checks = {}
            check_s = time.perf_counter() - t
            probes_ok = True
            if args.trace:
                try:
                    probes_ok = wl.probes(spark, on)
                except Exception:  # a raising probe fails the run's answer
                    traceback.print_exc(file=sys.stderr)
                    probes_ok = False
            app_id = spark.sparkContext.applicationId
            t = time.perf_counter()
            _stop_spark(spark)
            spark = None
            stop_s = time.perf_counter() - t

        attempted, failed, ok_frac, recall = score(ops, checks)
        lat = [x[1] for x in ops if x[3] is None]
        tail = tr.tail(lat)
        detail = {
            "workload": args.workload, "seed": args.seed, "cpus": cpus, "sizes": wl.sizes,
            "generate_s": gen_s, "session_s": session_s, "setup_reps_s": reps,
            "warmup_op_s": warmup_s, "check_s": check_s, "stop_s": stop_s,
            "op_latencies_s": [x[1] for x in ops],
            "items_per_s": wl.items_per_pass * len(lat) / wl.kinds / sum(x[1] for x in ops),
            "errors": [x[3] for x in ops if x[3]],
            "failed_ops": [i for i, *_ in ops if not checks.get(i, (False,))[0]],
            "tail": tail and {"percentile": tail[0], "value_s": tail[1], "n": tail[2]},
        }
        if args.trace:
            spans = on.finish(tr.job_counts(log_dir, app_id))
            every, values = layer_values(spans, wl.extra, ops, get_spark_s, wl.store_bytes,
                                         peak_rss_bytes, wl.kinds)
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            with open(path, "w") as fh:
                json.dump({"detail": detail, "per_layer": every, "spans": spans}, fh, indent=1)
            section = "per_layer"
        else:
            values = end_to_end_values(setup_s, ops, wl.kinds, wl.store_bytes, wl.input_bytes,
                                       ok_frac, recall)
            section = "end_to_end"
        print(json.dumps(detail), file=sys.stderr)
        print(result_line(failed == 0 and probes_ok, attempted, failed, values, section),
              flush=True)
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        wl.cleanup()
        shutil.rmtree(data_dir, ignore_errors=True)
        shutil.rmtree(log_dir, ignore_errors=True)


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
