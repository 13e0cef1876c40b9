"""The repository benchmark: seeded, closed-loop workloads over the
collector DAG, measured end to end (``--trace 0``) or per layer
(``--trace 1``).

    python3 perfbench/run.py --workload service_export --seed 1 --seconds 10 --trace 0

Run it from the repository root. One client runs passes back to back on
``local[<cores>]``; every pass is checked against DuckDB. The run sets
up ``SETUPS`` times (Spark session, one-time builds, ``WARMUPS`` warm-up
passes): the first set-up launches the JVM, later ones restart the
SparkContext inside it, and ``setup_s`` is the median. Timed passes then
run on the last session for ``--seconds`` and at least ``MIN_PASSES``
times. The JIT compiler keeps speeding passes up over the first few
passes of a JVM, so every warm-up comes before the first timed pass
(measured on 4 cores: between runs, the third timed pass spread about
0.6 times as much as the median of three timed passes). Inputs are
generated from the seed before set-up and cached under
``perfbench/.work/inputs``.

Every run writes its environment (cores, master, source revision, seed,
input rows, shuffle partitions, effective shuffle directory), samples
and result to ``perfbench/.work/results``; ``perfbench/compare.py``
compares two sets of them and refuses when the environments differ. A
traced run also writes its spans and per-layer table under
``perfbench/.work/traces``. The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

SETUPS = 2
WARMUPS = 2
MIN_PASSES = 2
DRIVER_MEMORY = "2g"


def _args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _source_revision(root: Path) -> dict:
    """Git commit of the checkout when it is a git work tree (read from
    ``.git`` directly), and a digest of the package sources either way."""
    import hashlib

    sha = None
    head = root / ".git" / "HEAD"
    if head.is_file():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            name = ref[5:]
            loose = root / ".git" / name
            if loose.is_file():
                sha = loose.read_text().strip()
            elif (root / ".git" / "packed-refs").is_file():
                for line in (root / ".git" / "packed-refs").read_text().splitlines():
                    if line.endswith(" " + name):
                        sha = line.split()[0]
        else:
            sha = ref
    digest = hashlib.sha256()
    files = sorted((root / "opentelemetry_collector_spark").rglob("*.py"))
    for f in [root / "__spark_entry__.py", *files]:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    return {"git_sha": sha, "source_digest": digest.hexdigest()[:16]}


def _fs_type(path: Path) -> str:
    """Filesystem type of the mount holding ``path``."""
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mount = parts[1]
            if str(path).startswith(mount) and len(mount) > len(best):
                best, fstype = mount, parts[2]
    return fstype


def _shuffle_dirs(spark) -> list[str]:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.sc().conf()
    return list(jvm.org.apache.spark.util.Utils.getConfiguredLocalDirs(conf))


def _stop_jvm() -> None:
    """Stop the gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def main(argv: list[str] | None = None) -> int:
    args = _args(argv)
    # a terminated run still unwinds, so the JVM and work directory go too
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    root = Path.cwd().resolve()
    if not (root / "opentelemetry_collector_spark" / "__init__.py").is_file() or not (
        root / "__spark_entry__.py"
    ).is_file():
        print(
            "perfbench: no opentelemetry_collector_spark package here; "
            "run from the repository root",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, str(root))
    from perfbench import inputs as inputs_mod
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    spec = json.loads((root / "BENCHMARK.json").read_text())
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = root / "perfbench" / ".work"
    rundir = work / f"run-{os.getpid()}"
    fixture_root = inputs_mod.fixture_root(work, cls.name, args.seed, cls.sizes)
    for d in (rundir / "tmp", fixture_root, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    # everything the package, Spark and its Python workers write stays in
    # the work directory; workers find the package through PYTHONPATH, not
    # through the working directory
    os.environ.update(
        OTELCOL_SPARK_FIXTURES=str(fixture_root),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=DRIVER_MEMORY,
        TMPDIR=str(rundir / "tmp"),
        # for the spark-submit launcher JVM too; no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={rundir / 'tmp'}",
        PYTHONPATH=os.pathsep.join(
            p for p in (str(root), os.environ.get("PYTHONPATH")) if p
        ),
    )
    # the package's own defaults, not tuning left in the caller's environment
    for knob in (
        "SPARK_SHUFFLE_PARTITIONS",
        "SPARK_MIN_PARTITION_NUM",
        "SPARK_OPEN_COST_BYTES",
        "SPARK_AQE_MIN_PARTITION_SIZE",
        "SPARK_GRAFT_LOCAL_DIR",
    ):
        os.environ.pop(knob, None)
    tempfile.tempdir = None
    os.chdir(rundir)

    tracer = Tracer()
    try:
        sf_dir = inputs_mod.prepare(fixture_root, args.seed, cls.sizes)
        os.environ["CHECK_SF_DIR"] = str(sf_dir)  # read by __spark_entry__ oracles
        expected_path = fixture_root / "expected.json"
        if not expected_path.exists():
            expected_path.write_text(json.dumps(cls.expected(sf_dir)))
        expected = json.loads(expected_path.read_text())
        wl = cls(sf_dir, rundir, expected, tracer)
        result, record = _run(args, wl, tracer, spec, cores, root, rundir)
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    finally:
        _stop_jvm()
        os.chdir(root)
        shutil.rmtree(rundir, ignore_errors=True)

    out = work / "results" / f"{wl.name}-seed{args.seed}-trace{args.trace}-{time.time_ns()}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1, sort_keys=True))
    print(json.dumps({"env": record["env"]}, sort_keys=True))
    print(json.dumps(result))
    return 0


def _run(args, wl, tracer, spec, cores, root, rundir):
    from opentelemetry_collector_spark.session import get_spark
    from pyspark import SparkContext

    from perfbench.procstat import PeakRss, cpu_seconds
    from perfbench.workloads import common_layers

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(rundir / "warehouse"),
    }
    if args.trace:
        # probes find their SQL executions by position in the store
        extra["spark.sql.ui.retainedExecutions"] = "100000"
        wl.instrument(tracer)

    def start():
        s = get_spark("perfbench", master=f"local[{cores}]", extra_conf=extra)
        s.sparkContext.setLogLevel("ERROR")
        tracer.bind(s)
        return s

    correct = True
    setups: list[dict] = []
    walls: dict[bool, list[float]] = {False: [], True: []}
    cpu: list[float] = []
    facts: list[dict] = []
    traced_spans: list[list[dict]] = []
    attempted = failed = 0
    spark = rss = None
    with contextlib.ExitStack() as stack:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start()
            t1 = time.perf_counter()
            if rss is None:
                jvm = SparkContext._gateway.proc.pid
                rss = stack.enter_context(PeakRss(jvm))
            tracer.enabled, tracer.pass_id = bool(args.trace), f"setup{i}"
            wl.setup(spark, i)
            tracer.enabled = False
            t2 = time.perf_counter()
            warm_s = 0.0
            for w in range(WARMUPS):
                t = time.perf_counter()
                warm = wl.run_pass(spark, f"warm{i}-{w}")
                warm_s += time.perf_counter() - t
                correct &= bool(wl.verify(spark, warm)["ok"])
            setups.append(
                {"get_spark_s": t1 - t0, "build_s": t2 - t1, "warmup_s": warm_s,
                 "total_s": t2 - t0 + warm_s}
            )
        # timed passes on the last set-up's session, after every warm-up;
        # with tracing, untraced and traced passes alternate
        deadline = time.perf_counter() + args.seconds
        done = {False: 0, True: 0}
        need = dict.fromkeys((False, True) if args.trace else (False,), MIN_PASSES)
        while True:
            traced = bool(args.trace) and sum(done.values()) % 2 == 1
            tag = f"p{sum(done.values())}"
            done[traced] += 1
            tracer.enabled, tracer.pass_id = traced, tag
            attempted += 1
            try:
                rss.active.set()
                c0 = cpu_seconds(jvm)
                t0 = time.perf_counter()
                with tracer.span("pass"):
                    res = wl.run_pass(spark, tag)
                wall = time.perf_counter() - t0
                c1 = cpu_seconds(jvm)
                rss.active.clear()
                tracer.enabled = False
                fact = wl.verify(spark, res)
            except Exception:  # noqa: BLE001 - a raising pass is a failed pass
                traceback.print_exc()
                rss.active.clear()
                tracer.enabled = False
                fact = {"ok": False}
            if fact["ok"]:
                walls[traced].append(wall)
                facts.append(fact)
                if traced:
                    traced_spans.append([s for s in tracer.spans if s["pass"] == tag])
                else:
                    cpu.append(c1 - c0)
            else:
                failed += 1
            if time.perf_counter() >= deadline and all(
                done[k] >= n for k, n in need.items()
            ):
                break
        peak_rss = rss.peak

    env = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "master": spark.sparkContext.master,
        **_source_revision(root),
        "input_rows": wl.rows,
        "sizes": vars(wl.sizes),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "shuffle_dir": [
            os.path.relpath(d, root) if d.startswith(str(root)) else d
            for d in _shuffle_dirs(spark)
        ],
        "shuffle_fs": _fs_type(Path(_shuffle_dirs(spark)[0])),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark_version": spark.version,
    }
    untraced = walls[False]
    if args.trace:
        tracer.unwrap_all()
        tracer.enabled, tracer.pass_id = True, "probe"
        layers = {
            **wl.layers(spark, tracer, traced_spans, facts),
            **common_layers(wl, traced_spans),
            "session.jvm_start_s": setups[0]["get_spark_s"],
            "session.get_spark_s": _median(s["get_spark_s"] for s in setups),
            "session.warmup_s": _median(s["warmup_s"] for s in setups),
            "run.cpu_s_per_mrow": sum(cpu) / (wl.rows * len(cpu)) * 1e6,
            "run.peak_rss_mb": peak_rss / 2**20,
            "trace.overhead_ratio": _median(walls[True]) / _median(untraced),
        }
        tracer.enabled = False
        trace_dir = root / "perfbench" / ".work" / "traces"
        stem = f"{wl.name}-seed{args.seed}-{time.time_ns()}"
        tracer.write(trace_dir / f"{stem}.spans.jsonl")
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        _print_table(metrics)
        (trace_dir / f"{stem}.layers.json").write_text(json.dumps(metrics, indent=1))
    else:
        values = {
            "rows_per_s": wl.rows / _median(untraced) if untraced else 0.0,
            "ok_ratio": 1.0 - failed / attempted,
            "setup_s": _median(s["total_s"] for s in setups),
        }
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    result = {
        "correct": correct and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    record = {
        "env": env,
        "samples": {
            "pass_s": untraced,
            "traced_pass_s": walls[True],
            "cpu_s": cpu,
            "setups": setups,
        },
        "result": result,
    }
    return result, record


def _print_table(metrics: dict) -> None:
    width = max(len(k) for k in metrics)
    for name, m in metrics.items():
        print(f"{name:<{width}}  {m['value']:>16.6g}  {m['unit']}")


if __name__ == "__main__":
    sys.exit(main())
