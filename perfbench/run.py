"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cmf_fit_serve --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, sets Spark up the workload's ``SETUPS`` times (session start
and input load; the median is ``setup_s``), runs the workload's fixed
job once and checks its outputs, and prints the detailed metrics
followed by one JSON line: with ``--trace 0`` the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics (spans tag
Spark jobs and the status store is read at the end; the span file and a
per-layer self-time report are written too). The job is the same work
whatever ``--seconds`` says; a job shorter than ``--seconds`` is reported
on standard error.

Everything the run writes goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _configure_env(work: Path) -> dict:
    """Environment and Spark settings, fixed before the JVM starts. All
    scratch space (Spark local dirs, JVM and Python temp) stays inside
    the run's work directory."""
    from perfbench import env

    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(env.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = env.driver_memory()
    os.environ.pop("SPARK_GRAFT_XMS", None)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM the launch starts (the spark-submit launcher too) keeps its
    # temp files in the work directory and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tr, w, inp: dict, region, cores: int) -> dict:
    """Per-layer numbers over the measured region (``session.*`` over the
    set-ups). Per-call figures are medians of span durations or counter
    totals divided by calls; a layer the workload does not call reads 0."""
    spans = [s for s in tr.subtree(region)]
    names = {s.name for s in spans}

    def dur(name: str) -> list[float]:
        return [s.dur for s in spans if s.name == name]

    def ctr(name: str) -> dict:
        return tr.counters(name) if name in names else {}

    def per_call(name: str, field: str, scale: float = 1.0) -> float:
        n = len(dur(name))
        return ctr(name).get(field, 0) * scale / n if n else 0.0

    m: dict[str, float] = {}
    setups = [s for s in tr.spans if s.name == "session.get_spark"]
    m["session.get_spark_s"] = _median([s.dur for s in setups])
    m["session.first_get_spark_s"] = setups[0].dur if setups else 0.0

    fit = "cmf.als.fit"
    fits = dur(fit)
    m["cmf.als.fit_s"] = _median(fits)
    m["cmf.als.fit.jobs"] = per_call(fit, "jobs")
    m["cmf.als.fit.tasks"] = per_call(fit, "numTasks")
    m["cmf.als.fit.executor_run_s"] = per_call(fit, "executorRunTime", 1e-3)
    m["cmf.als.fit.executor_cpu_s"] = per_call(fit, "executorCpuTime", 1e-9)
    m["cmf.als.fit.core_busy"] = (
        ctr(fit).get("executorRunTime", 0) * 1e-3 / (sum(fits) * cores) if fits else 0.0
    )
    m["cmf.als.fit.shuffle_write_bytes"] = per_call(fit, "shuffleWriteBytes")
    spill = ctr(fit).get("memoryBytesSpilled", 0) + ctr(fit).get("diskBytesSpilled", 0)
    m["cmf.als.fit.spill_bytes"] = spill / len(fits) if fits else 0.0
    m["cmf.als.fit.gc_s"] = per_call(fit, "jvmGcTime", 1e-3)
    m["cmf.als.predict_s"] = _median(dur("cmf.als.predict"))

    extra = w.layer_metrics(tr, inp)
    m["cmf.solver.flops"] = extra.get("cmf.solver.flops", 0.0)
    m["cmf.solver.solve_stage_run_s"] = per_call(fit, "solve_run_ms", 1e-3)

    rec = "cmf.recommend.recommend_topk"
    m["cmf.recommend.topk_s"] = _median(dur(rec))
    m["cmf.recommend.tasks"] = per_call(rec, "numTasks")

    fo = "cmf.foldin.fold_in_predict"
    m["cmf.foldin.request_ms"] = _median(dur(fo)) * 1e3
    m["cmf.foldin.jobs_per_request"] = per_call(fo, "jobs")
    m["cmf.foldin.tasks_per_request"] = per_call(fo, "numTasks")
    m["cmf.foldin.solve_stage_run_ms"] = per_call(fo, "solve_run_ms")

    sp = "operators.split.split_chronologically"
    m["operators.split.split_s"] = _median(dur(sp))
    m["operators.split.shuffle_write_bytes"] = per_call(sp, "shuffleWriteBytes")

    rk, rg = "operators.evaluation.ranking_metrics", "operators.evaluation.regression_metrics"
    m["operators.evaluation.ranking_s"] = _median(dur(rk))
    m["operators.evaluation.regression_s"] = _median(dur(rg))
    m["operators.evaluation.shuffle_write_bytes"] = per_call(rg, "shuffleWriteBytes") + per_call(
        rk, "shuffleWriteBytes"
    )

    m["operators.dedup.exact_s"] = _median(dur("operators.dedup.exact_dedup_groups"))
    m["operators.dedup.minhash_s"] = _median(dur("operators.dedup.minhash_signatures"))
    m["operators.dedup.lsh_s"] = _median(dur("operators.dedup.lsh_candidate_pairs"))
    m["operators.dedup.candidates_per_true_pair"] = extra.get(
        "operators.dedup.candidates_per_true_pair", 0.0
    )

    ap, mg = "sources.layout.append", "sources.layout.merge_mor"
    m["sources.layout.append_s"] = _median(dur(ap))
    m["sources.layout.merge_s"] = _median(dur(mg))
    m["sources.layout.compact_s"] = _median(dur("sources.layout.compact"))
    commit_in = sum(s.attrs.get("input_bytes", 0) for s in spans if s.name in (ap, mg))
    commit_out = ctr(ap).get("outputBytes", 0) + ctr(mg).get("outputBytes", 0)
    m["sources.layout.bytes_written_per_input_byte"] = commit_out / commit_in if commit_in else 0.0
    rd = "sources.layout.read"
    m["sources.layout.read_ms"] = _median(dur(rd)) * 1e3
    returned = sum(s.attrs.get("rows", 0) for s in spans if s.name == rd)
    m["sources.layout.rows_scanned_per_row_returned"] = (
        ctr(rd).get("inputRecords", 0) / returned if returned else 0.0
    )
    m["sources.layout.files_in_snapshot"] = float(
        max((s.attrs.get("files_in_snapshot", 0) for s in spans), default=0)
    )

    whole = tr.counters(region.name)
    m["spark.jobs"] = float(whole.get("jobs", 0))
    m["spark.tasks"] = float(whole.get("numTasks", 0))
    m["spark.gc_s"] = whole.get("jvmGcTime", 0) * 1e-3
    m["spark.shuffle_write_bytes"] = float(whole.get("shuffleWriteBytes", 0))
    m["spark.core_busy"] = whole.get("executorRunTime", 0) * 1e-3 / (region.dur * cores)

    selfs = tr.self_times_under(region)
    for layer in (
        "cmf.als", "cmf.recommend", "cmf.foldin", "operators.split", "operators.evaluation",
        "operators.dedup", "sources.layout", "bench",
    ):
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    m["trace.bookkeeping_s"] = tr.bookkeeping_s
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import collective_als_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import env
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Ledger

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    out_dir = ROOT / ".perfbench"
    work = out_dir / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    conf = _configure_env(work)
    from collective_als_spark.session import get_spark

    info = {"workload": w.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    info["env"] = env.describe()
    info["pressure_before"] = env.pressure()
    t_gen = time.perf_counter()
    inp = w.inputs(args.seed)
    info["inputs_s"] = round(time.perf_counter() - t_gen, 3)
    tr = Tracer(enabled=args.trace == 1)
    led = Ledger()
    cores = env.cpu_count()
    spark = None
    try:
        with env.PeakRss() as rss:
            for _ in range(w.SETUPS):
                if spark is not None:
                    tr.attach(None)
                    spark.stop()
                with tr.span("bench.setup"):
                    with tr.span("session.get_spark"):
                        spark = get_spark("perfbench", extra_conf=conf)
                    tr.attach(spark)
                    with tr.span("bench.load"):
                        loaded = w.load(spark, inp)
            with tr.span("bench.run") as region:
                result = w.run(spark, tr, led, loaded, inp, str(work / "table"))
            tr.harvest(spark, solve_under=("cmf.als.fit", "cmf.foldin.fold_in_predict"))
    except Exception:
        led.crash(w.name)
        return 1
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        info["stop_s"] = round(time.perf_counter() - t_stop, 3)
    info["pressure_after"] = env.pressure()
    if region.dur < args.seconds:
        print(f"perfbench: the job took {region.dur:.1f} s, less than --seconds", file=sys.stderr)

    e2e = {
        "setup_s": _median(tr.durations("bench.setup")),
        "job_s": result["job_s"],
    }
    detail = {**result["detail"], "peak_rss_mb": (rss.peak / 1e6, "MB")}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    error_rate = led.failed / max(led.attempted, 1)
    info["setup_s"] = [round(d, 3) for d in tr.durations("bench.setup")]
    info["measured_s"] = round(region.dur, 3)
    print(json.dumps(info))
    for name, (value, unit) in detail.items():
        print(f"{w.name} {name} = {value:.6g} {unit}")
    print(f"{w.name} error_rate = {error_rate:.6g} fraction ({led.failed}/{led.attempted})")
    for name, oks in led.checks.items():
        print(f"check {name}: {'pass' if all(oks) else 'FAIL'} ({sum(oks)}/{len(oks)})")
    for name in (m["name"] for m in spec["end_to_end"]):
        print(f"{w.name} {name} = {e2e[name]:.6g} {units[name]}")

    out_dir.mkdir(exist_ok=True)
    stem = f"{w.name}-seed{args.seed}"
    numbers = {**{k: (v, units[k]) for k, v in e2e.items()}, **detail}
    (out_dir / f"{stem}-trace{args.trace}.json").write_text(
        json.dumps({**info, "e2e": e2e, "numbers": numbers})
    )
    if args.trace:
        layers = layer_metrics(tr, w, inp, region, cores)
        tr.dump(str(out_dir / f"{stem}-spans.jsonl"))
        print(f"spans written to {out_dir / (stem + '-spans.jsonl')}")
        for name, value in sorted(layers.items()):
            if name.startswith("self_s."):
                print(f"self time {name[7:]:<22} {value:9.3f} s")
        untraced = out_dir / f"{stem}-trace0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["numbers"]
            for name, (value, unit) in numbers.items():
                if name in base:
                    print(f"tracing overhead {name} = {value - base[name][0]:+.6g} {unit}")
        else:
            print("tracing overhead: no untraced run of this workload and seed to compare with")
        metrics = {m["name"]: layers[m["name"]] for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    print(
        json.dumps(
            {
                "correct": led.failed == 0,
                "attempted": led.attempted,
                "failed": led.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
