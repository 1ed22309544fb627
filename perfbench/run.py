"""Benchmark of the PySpark BM25 engine. One run measures one seeded workload.

    python3 perfbench/run.py --workload {build,search,curate,ingest} \\
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --selfcheck

Run it from the root of a checkout. It drives the engine only through its
public functions, on inputs generated from ``--seed``, at ``local[nproc // 2]``
with a driver heap sized for a small host. It prints every metric by name and
unit, then one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` the run measures the loop once untraced
and once traced, and the metrics are the per-layer ones, including the
tracing overhead. The exit code is 0 when every output matched its
reference, 1 when one did not, 2 when the engine is missing.

``--selfcheck`` runs every workload on a tiny corpus with tracing and checks
the trace's accounting: every Spark job started inside a span is attributed
to exactly one span, no driver-only time is negative, self times sum to no
more than wall time, and every per-layer metric is produced by some workload.

All files go to a per-run directory under ``.perfbench-work`` in the
checkout, which is deleted at the end; TMPDIR points there too, so operator
barrier directories the engine leaves behind are measured
(``session.tmp_bytes_leaked``) and then removed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

import spans as tracing
from kernels import kernel_metrics
from workloads import WORKLOADS, dir_bytes, median, tail_latency

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "4g"
SELFCHECK_SCALE = 0.1
SELFCHECK_SECONDS = 2.0

# Aliases under which ISSUE-level names of the end-to-end metrics are printed.
ALIASES = {
    "build": {"throughput_per_s": ("build_docs_per_s", "docs/s"), "latency_p50_s": ("build_latency_p50_s", "s")},
    "search": {"throughput_per_s": ("batch_qps", "queries/s"), "latency_p50_s": ("query_latency_p50_s", "s")},
    "ingest": {"throughput_per_s": ("ingest_docs_per_s", "docs/s"), "latency_p50_s": ("query_latency_p50_s", "s")},
    "curate": {"throughput_per_s": ("curate_docs_per_s", "docs/s"), "latency_p50_s": ("curate_pass_p50_s", "s")},
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task threads: half the cores, so that the Python workers, the
    JVM's own threads and the driver process have cores of their own and a
    busy neighbour on a shared host slows a run less. Measured on a 4-vCPU
    host with two runs at once: local[4] lost 40% of its batch throughput,
    local[2] 20%."""
    return max(1, nproc() // 2)


def configure_env(work: str) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers into ``work``."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "jvm-tmp"), os.path.join(work, "spark-local")):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files in /tmp, and the JVM's own temp files kept apart
    # from the Python-side barrier directories that TMPDIR collects
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None


def start_spark():
    from rustserini_spark import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{task_slots()}]",
        extra_conf={
            # keep every job and stage of a run in the status store for the trace
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_speed() -> float:
    """Rounds per second of a fixed single-threaded Python loop, over half a
    second. Printed before and after each run: on a shared host this speed
    drifts by up to 2x over tens of minutes, and every timing of the run
    drifts with it, so a change in it tells host drift apart from a change
    in the program."""
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < 0.5:
        sum(i * i for i in range(10_000))
        n += 1
    return n / (time.perf_counter() - t0)


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes of this process and its descendants
    (the JVM and the Python workers), from /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    family = {os.getpid()}
    while True:
        more = {p for p, pp in parent.items() if pp in family} - family
        if not more:
            break
        family |= more
    kb = 0
    for pid in family:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


def environment(spark) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "driver_mem": spark.sparkContext.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "numpy": numpy.__version__,
    }


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool, work: str,
                 scale: float = 1.0) -> dict:
    """Set up, warm, run and verify one workload on a live session."""
    tracer = tracing.Tracer(spark, enabled=False)  # on for the traced loop only
    wl = WORKLOADS[name](spark, seed, work, tracer, scale)
    phases = {}
    speed = [host_speed()]
    t_phase = time.perf_counter()
    wl.prepare()
    phases["prepare_s"] = time.perf_counter() - t_phase
    setup_s = []
    for rep in range(wl.SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(rep)
        setup_s.append(time.perf_counter() - t0)
    t_phase = time.perf_counter()
    wl.warm()
    phases["warm_s"] = time.perf_counter() - t_phase

    loops = []
    if trace:  # the same loop untraced first: the difference is the tracing overhead
        seconds /= 2  # the two loops together take as long as one untraced run
        loops.append(wl.loop(seconds))
        tracer.enabled = True
    gc0, tmp0 = jvm_gc_s(spark), dir_bytes(tempfile.gettempdir())
    loops.append(wl.loop(seconds))
    gc_s, tmp_bytes = jvm_gc_s(spark) - gc0, dir_bytes(tempfile.gettempdir()) - tmp0
    speed.append(host_speed())
    res = loops[-1]
    t_phase = time.perf_counter()
    with tracer.span("check"):
        for r in loops:
            try:
                wl.verify(r)
            except Exception as exc:  # a check that cannot run counts as a failure
                r.failed += 1
                r.errors.append(f"verify: {type(exc).__name__}: {exc}"[:500])
    phases["verify_s"] = time.perf_counter() - t_phase

    layer, problems = {}, []
    if trace:
        layer = kernel_metrics(*wl.kernel_inputs())
        layer.update(wl.layer_metrics(res))  # the workload's own index, where it has one
        jobs = tracing.read_jobs(spark)
        for span, row in tracing.span_stats(tracer.spans, jobs).items():
            for k, v in row.items():
                if k != "calls":
                    layer[f"{span}.{k}"] = v
        plain = loops[0]
        tail, pct, n = tail_latency(plain.latencies)
        layer.update({
            "request.latency_tail_s": tail,
            "request.latency_tail_pct": pct,
            "request.latency_samples": n,
            "request.latency_p50_s": median(plain.latencies),
            "trace.overhead_pct": 100.0 * (plain.throughput / res.throughput - 1.0) if res.throughput else 0.0,
            "session.jvm_gc_s": gc_s,
            "session.tmp_bytes_leaked": tmp_bytes / max(1, res.attempted),
            "session.peak_rss_mb": peak_rss_mb(),
        })
        problems = tracing.check_invariants(tracer.spans, jobs)

    out = {
        "name": name,
        "setup_s": median(setup_s),
        "phases": {**phases, "setup_reps_s": setup_s},
        "host_speed": speed,
        "loops": loops,
        "attempted": sum(r.attempted for r in loops),
        "failed": sum(r.failed for r in loops),
        "errors": [e for r in loops for e in r.errors],
        "docs": len(wl.corpus.docs),
        "text_bytes": int(wl.corpus.docs["n_chars"].sum()),
        "layer": layer,
        "trace_problems": problems,
    }
    return out


def end_to_end(out: dict) -> dict[str, float]:
    res = out["loops"][-1]
    return {
        "setup_s": out["setup_s"],
        "throughput_per_s": res.throughput,
        "latency_p50_s": median(res.latencies),
    }


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(out: dict, trace: bool, spec: dict, env: dict) -> dict:
    """Print every metric by name and unit; returns the JSON result."""
    name = out["name"]
    print(f"# perfbench workload={name} docs={out['docs']} text_bytes={out['text_bytes']}")
    print(f"# env {json.dumps(env, sort_keys=True)}")
    print(f"# phases {json.dumps(out['phases'])}")
    print("# host_speed before={:.1f} after={:.1f} (rounds/s of a fixed Python loop)".format(*out["host_speed"]))
    last = out["loops"][-1]
    print(f"# requests latency_s={[round(x, 4) for x in last.latencies]} rates={[round(x, 2) for x in last.rates]}")
    for err in out["errors"][:20]:
        print(f"# failure: {err}")
    e2e = end_to_end(out)
    for key, value in e2e.items():
        alias = ALIASES[name].get(key)
        print(f"{key} = {value:.6g} {next(m['unit'] for m in spec['end_to_end'] if m['name'] == key)}"
              + (f"  ({alias[0]}, {alias[1]})" if alias else ""))
    tail, pct, n = tail_latency(last.latencies)
    print(f"latency_tail_s = {tail:.6g} s  (p{pct:.0f} of {n} requests)")
    if "index_bytes_per_text_byte" in last.extra:
        print(f"index_bytes_per_text_byte = {last.extra['index_bytes_per_text_byte']:.6g} B/B")
    print(f"failed_ratio = {out['failed'] / max(1, out['attempted']):.6g}  ({out['failed']} of {out['attempted']})")
    if trace:
        first = out["loops"][0]
        print(f"untraced: throughput_per_s = {first.throughput:.6g}, "
              f"latency_p50_s = {median(first.latencies):.6g}")
        for problem in out["trace_problems"]:
            print(f"# trace accounting: {problem}")
        metrics = {m["name"]: {"value": out["layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for k, v in metrics.items():
            print(f"{k} = {v['value']:.6g} {v['unit']}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }


def selfcheck(spark, work: str, spec: dict) -> int:
    problems, seen = [], set()
    for name in WORKLOADS:
        out = run_workload(spark, name, 0, SELFCHECK_SECONDS, True, work, SELFCHECK_SCALE)
        problems += [f"{name}: {p}" for p in out["trace_problems"]]
        problems += [f"{name}: {e}" for e in out["errors"]]
        seen |= set(out["layer"])
        print(f"# selfcheck {name}: {out['attempted']} operations, {len(out['trace_problems'])} trace problems")
    problems += [f"per-layer metric {m['name']} is produced by no workload"
                 for m in spec["per_layer"] if m["name"] not in seen]
    for p in problems:
        print(f"# selfcheck: {p}")
    print("# selfcheck: " + ("ok" if not problems else f"{len(problems)} problems"))
    return 0 if not problems else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args(argv)
    if not args.selfcheck and not args.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "rustserini_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    work_root = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(work_root, f"{args.workload or 'selfcheck'}-{args.seed}-{os.getpid()}")
    configure_env(work)
    try:
        spark = start_spark()
        try:
            env = environment(spark)
            if args.selfcheck:
                return selfcheck(spark, work, spec)
            out = run_workload(spark, args.workload, args.seed, args.seconds, bool(args.trace), work)
        finally:
            stop_spark(spark)
        result = report(out, bool(args.trace), spec, env)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
