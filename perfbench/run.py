"""The repository benchmark: run one workload, check its outputs against the
oracle, print every metric by name with its unit.

Usage (from the repository root)::

    python3 perfbench/run.py --workload seal-batch --seed 1 --seconds 12 --trace 0

Workloads and metrics are listed in ``BENCHMARK.json``.  One run:

1. generates the inputs for ``(workload, seed)`` into ``.perfbench/inputs``
   (cached; never timed);
2. sets up: starts the Spark session (``local[k]``, k = min(4, nproc)) and
   runs the workload's job once as warm-up, so JIT compilation and Python
   worker start-up are done before timing; ``setup_s`` is that whole
   set-up, measured once per run: a cold set-up costs 20-45 s, so repeating
   it would make a run several times longer;
3. runs timed jobs back to back (closed loop, one caller) for about
   ``--seconds`` seconds and at least ``MIN_JOBS`` jobs; ``job_s`` and
   ``docs_per_s`` come from the median job;
4. with ``--trace 1``, mixes untraced jobs with jobs that record spans
   around the calls into each layer and reads Spark's per-stage metrics of
   each traced call right after it; then replays the workload's media bytes
   single-process through the codec and kernel functions, and runs one job
   at ``local[1]`` (right after the restart, so it includes one Python
   worker's start-up);
5. checks every job's committed output against the oracle
   (``perfbench/oracle.py``) and stops every process it started.

Human-readable lines come first; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The exit code is 0 when every output matched the oracle, 1 when one did
not, and 2 when the program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

MAX_SLOTS = 4
# every run times at least this many jobs; a traced run times three, in the
# order untraced, traced, untraced, so that a steady drift in job time over
# the run (the JIT is still warming) cancels out of the tracing overhead
MIN_JOBS = 2
MIN_TRACED_RUN_JOBS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def build_metrics(spec: dict, trace: int, values: dict) -> dict:
    """``{name: {"value", "unit"}}`` for exactly the metrics of the mode:
    every ``end_to_end`` metric untraced, every ``per_layer`` one traced."""
    wanted = spec["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}


def tail(samples: list[float]):
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or None when there are fewer than eleven samples."""
    if len(samples) < 11:
        return None
    s = sorted(samples)
    idx = len(s) - 11
    return 100.0 * (idx + 1) / len(s), s[idx]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


def _spark_env(work: Path) -> dict:
    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    # everything Spark, the JVMs and Python write goes under the checkout
    # (without -XX:-UsePerfData every JVM writes /tmp/hsperfdata_<user>)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_spark(slots: int, extra: dict):
    from red_seal_ocr_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{slots}]", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not open(f"/proc/{p}/stat").read().split(") ")[1].startswith("Z")]
        time.sleep(0.1)
    return pids


def shutdown(spark) -> None:
    """Stop the session, the JVM gateway and every descendant process."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                proc.kill()
                proc.wait()
    # the oracle's process pool leaves multiprocessing's resource tracker
    # running; it ignores SIGTERM and exits when its pipe is closed
    from multiprocessing import resource_tracker

    getattr(resource_tracker._resource_tracker, "_stop", lambda: None)()
    left = _wait_gone(descendants(os.getpid()), 10)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        left = _wait_gone(left, 10)


# ---------------------------------------------------------------------------
# phases
# ---------------------------------------------------------------------------


def setup_phase(wl, slots: int, extra: dict, tables: Path):
    """Start the session and run the warm-up passes; returns the session
    and (start_s, warmup_s, seconds of each pass)."""
    t0 = time.perf_counter()
    spark = start_spark(slots, extra)
    t1 = time.perf_counter()
    passes = []
    for i in range(wl.warmup_passes):
        t = time.perf_counter()
        wl.job(spark, str(tables / f"warmup-{i}"))
        passes.append(time.perf_counter() - t)
    return spark, (t1 - t0, time.perf_counter() - t1, passes)


def timed_phase(spark, wl, seconds: float, tables: Path, tracer=None,
                min_jobs: int = MIN_JOBS, slots: int = 1) -> list[dict]:
    """Closed loop, one caller: jobs back to back until about ``seconds``
    have passed (a job starts only if half of the median job still fits)
    and at least ``min_jobs`` jobs have run.

    With a ``tracer``, every second job runs with the workload's layer
    patches and a ``job`` span, so traced and untraced jobs run under
    the same conditions and their medians give the tracing overhead; each
    traced job's Spark-side metrics are read as soon as it has returned
    (Spark's status store forgets old stages)."""
    from perfbench.trace import spark_call_stats

    sc = spark.sparkContext
    jobs: list[dict] = []
    t_start = time.perf_counter()
    while True:
        i = len(jobs)
        traced = tracer is not None and i % 2 == 1
        table = tables / f"job-{i:03d}"
        group = f"perfbench-{tables.name}-{i}"
        sc.setJobGroup(group, group)
        counts, error = None, None
        collect_garbage(spark)
        if traced:
            wl.trace_patches(tracer)
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span("job"):
                    counts = wl.job(spark, str(table))
            else:
                counts = wl.job(spark, str(table))
        except Exception as exc:  # noqa: BLE001 - a failed job is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            error = repr(exc)
        finally:
            seconds_taken = time.perf_counter() - t0
            if traced:
                tracer.unpatch_all()
        job = {"table": str(table), "error": error, "traced": traced,
               "seconds": seconds_taken, "counts": counts}
        if traced and not error:
            job["spark"] = call_summary(spark_call_stats(spark, group), seconds_taken, slots)
        jobs.append(job)
        elapsed = time.perf_counter() - t_start
        med = _median([j["seconds"] for j in jobs])
        if len(jobs) >= min_jobs and elapsed + 0.5 * med >= seconds:
            break
    sc.setLocalProperty("spark.jobGroup.id", None)
    return jobs


def collect_garbage(spark) -> None:
    """Untimed, before each job: collect garbage in the driver JVM and in
    Python, so that no job pays for the garbage of the one before it."""
    import gc

    spark.sparkContext._jvm.System.gc()
    gc.collect()


def call_summary(st: dict, seconds: float, slots: int) -> dict:
    """One call's Spark-side metrics from :func:`trace.spark_call_stats`."""
    stages = st["stages"]
    kernel = [s for s in stages if s["kernel"]]
    task_ms = [t for s in kernel for t in s["task_ms"]]
    busy = sum(s["run_s"] for s in stages)
    return {
        "jobs": st["jobs"],
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "busy_s": busy,
        "kernel_busy_s": sum(s["run_s"] for s in kernel),
        "other_busy_s": busy - sum(s["run_s"] for s in kernel),
        "slot_busy_frac": busy / (slots * seconds),
        "stage_cover_frac": st["stage_cover_s"] / seconds,
        "kernel_task_skew": (max(task_ms) / statistics.median(task_ms)
                             if task_ms and statistics.median(task_ms) > 0 else 0.0),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "output_bytes": sum(s["output_bytes"] for s in stages),
    }


KERNEL_CALLS = (
    ("decode_image_lazy", "codecs.decode_image_lazy"),
    ("rgb_red_mask", "imageops.rgb_red_mask"),
    ("morph_open", "imageops.morph_open"),
    ("morph_close", "imageops.morph_close"),
    ("filled_components", "imageops.filled_components"),
    ("decode_seal_with_confidence", "ocr.decode_seal_with_confidence"),
)


def kernel_replay(media: dict[str, bytes], tracer) -> dict:
    """Single-process replay of the workload's media bytes through
    ``process_image``, with spans around the codec / imageops / ocr calls
    the kernel makes.  Times are per image, in ms."""
    from red_seal_ocr_spark.functions import kernel

    refs = sorted(media)
    if not refs:
        return {}
    kernel.process_image(media[refs[0]])  # lazy imports, glyph templates
    for attr, name in KERNEL_CALLS:
        tracer.patch(kernel, attr, name)
    images = []
    try:
        for ref in refs:
            with tracer.span("kernel.process_image") as sp:
                r = kernel.process_image(media[ref])
            images.append((sp, r))
    finally:
        tracer.unpatch_all()

    def child_ms(sp, name):
        return 1000.0 * sum(tracer.durations(name, parent=sp))

    ok = [(sp, r) for sp, r in images if r.status == kernel.OK]
    decoded = [child_ms(sp, "codecs.decode_image_lazy")
               for sp, r in images if r.status != kernel.DECODE_ERROR]
    q = statistics.quantiles(decoded, n=10) if len(decoded) >= 2 else [0.0] * 9

    def mean_ms(f):
        return statistics.fmean(f(sp) for sp, _ in ok) if ok else 0.0

    tracer.count("replay.images", len(images))
    tracer.count("replay.ok", len(ok))
    return {
        "codecs.decode_ms.png.p50": _median(decoded),
        "codecs.decode_ms.png.p90": q[8],
        "kernel.self_ms": mean_ms(lambda sp: 1000.0 * (sp["end"] - sp["start"])
                                  - child_ms(sp, "codecs.decode_image_lazy")),
        "kernel.mask_ms": mean_ms(lambda sp: child_ms(sp, "imageops.rgb_red_mask")),
        "kernel.morph_ms": mean_ms(lambda sp: child_ms(sp, "imageops.morph_open")
                                   + child_ms(sp, "imageops.morph_close")),
        "kernel.components_ms": mean_ms(lambda sp: child_ms(sp, "imageops.filled_components")),
        "kernel.ocr_ms": mean_ms(lambda sp: child_ms(sp, "ocr.decode_seal_with_confidence")),
        "kernel.ok_frac": len(ok) / len(images),
        "kernel.components_per_image": (statistics.fmean(r.n_components for _, r in ok)
                                        if ok else 0.0),
    }


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def _versions() -> dict:
    import duckdb
    import numpy
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "duckdb": duckdb.__version__}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import red_seal_ocr_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    from perfbench.inputs import prepare
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    spec = load_spec()
    if args.workload not in WORKLOADS or args.workload not in {
            w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench"
    run_dir = work / "runs" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    nproc = len(os.sched_getaffinity(0))
    slots = min(MAX_SLOTS, nproc)
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    extra = _spark_env(work)

    phases = {"start": time.perf_counter()}
    input_dir, meta = prepare(args.workload, args.seed, work / "inputs")
    phases["inputs"] = time.perf_counter()
    wl = WORKLOADS[args.workload](input_dir, meta)
    tracer = Tracer() if args.trace else None
    values: dict = {}
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "nproc": nproc, "k": slots,
                    "versions": _versions(), "inputs": meta}
    spark = None
    try:
        with RssSampler() as rss:
            if tracer is None:
                spark, setup = setup_phase(wl, slots, extra, run_dir)
            else:
                with tracer.span("setup"):
                    spark, setup = setup_phase(wl, slots, extra, run_dir)
            jobs = timed_phase(spark, wl, args.seconds, run_dir / "timed", tracer,
                               MIN_TRACED_RUN_JOBS if tracer else MIN_JOBS, slots)
        phases["timed"] = time.perf_counter()
        expected = wl.expected(slots)
        phases["oracle"] = time.perf_counter()
        checks = [wl.check(spark, j["table"], expected, tracer if j["traced"] else None)
                  for j in jobs if not j["error"]]
        all_jobs = list(jobs)
        if tracer is not None:
            values.update(trace_values(spark, wl, tracer, jobs))
            values["scaling_eff"] = 0.0
            if wl.has_media:
                # scaling: one job at local[1] on the same input
                spark.stop()
                spark = start_spark(1, extra)
                one = timed_phase(spark, wl, 0, run_dir / "local1", min_jobs=1)
                all_jobs += one
                checks += [wl.check(spark, j["table"], expected)
                           for j in one if not j["error"]]
                base = _median([j["seconds"] for j in jobs
                                if not j["error"] and not j["traced"]], 0.0)
                if base and not one[0]["error"]:
                    values["scaling_eff"] = one[0]["seconds"] / (slots * base)
        phases["checked"] = time.perf_counter()
    finally:
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["stopped"] = time.perf_counter()

    # the metrics of the workload's own job come from untraced jobs only
    ok_jobs = [j for j in jobs if not j["error"] and not j["traced"]]
    times = [j["seconds"] for j in ok_jobs]
    job_s = _median(times)
    n_checked = sum(c["checked"] for c in checks)
    n_wrong = sum(c["wrong"] for c in checks)
    media_attempted = sum(c.get("media", 0) for c in checks)
    media_failed = sum(c.get("failures", 0) for c in checks)
    errors = sum(1 for j in all_jobs if j["error"])
    values.update({
        "docs_per_s": meta["docs"] / job_s if job_s else 0.0,
        "job_s": job_s,
        "setup_s": setup[0] + setup[1],
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "media_per_s": meta["media_spans"] / job_s if job_s else 0.0,
        "media_fail_frac": media_failed / media_attempted if media_attempted else 0.0,
        "wrong_output_frac": n_wrong / n_checked if n_checked else 1.0,
        "error_frac": errors / len(all_jobs),
        "job_samples": len(times),
        "session.start_s": setup[0],
        "session.warmup_s": setup[1],
    })
    # check_extraction compares n_media / n_failures per document with the
    # oracle's extract_failure_count, so media_fail_frac is gated there too
    correct = n_checked > 0 and n_wrong == 0

    names = list(phases)
    record.update({"phase_s": {b: phases[b] - phases[a] for a, b in zip(names, names[1:])},
                   "setup_s": setup, "jobs": all_jobs, "checks": checks,
                   "values": values, "correct": correct})
    if tracer is not None:
        tracer.write(work / "traces" / f"{args.workload}-seed{args.seed}.json",
                     {"values": values, "inputs": meta, "k": slots})
    results = work / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))

    report(args, record, times, values, spec)
    print(json.dumps({"correct": correct, "attempted": len(all_jobs), "failed": errors,
                      "metrics": build_metrics(spec, args.trace, values)}))
    return 0 if correct else 1


def trace_values(spark, wl, tracer, jobs: list[dict]) -> dict:
    """Per-layer metrics of the traced run; ``jobs`` mixes untraced and
    traced jobs."""
    from red_seal_ocr_spark.sources.snapshot import current_snapshot

    traced = [j for j in jobs if j["traced"] and not j["error"]]
    untraced = [j for j in jobs if not j["traced"] and not j["error"]]
    calls = [j["spark"] for j in traced]
    side = {k: _median([c[k] for c in calls]) for k in (calls[0] if calls else {})}
    extract = {
        "extract.kernel_stage_busy_s": "kernel_busy_s",
        "extract.other_stage_busy_s": "other_busy_s",
        "extract.slot_busy_frac": "slot_busy_frac",
        "extract.kernel_task_skew": "kernel_task_skew",
        "extract.shuffle_write_bytes": "shuffle_write_bytes",
        "extract.shuffle_read_bytes": "shuffle_read_bytes",
        "extract.output_bytes": "output_bytes",
        "extract.jobs_per_call": "jobs",
        "extract.stages_per_call": "stages",
        "extract.tasks_per_call": "tasks",
    }
    curate = {"curate.stage_busy_s": "busy_s",
              "curate.shuffle_write_bytes": "shuffle_write_bytes"}
    # Spark-side metrics belong to the layer the workload's job calls;
    # the other layer's read 0
    mine, other = (extract, curate) if wl.has_media else (curate, extract)
    v = {name: side.get(key, 0) for name, key in mine.items()}
    v.update({name: 0 for name in other})
    v.update({
        "curate.verified_over_candidate_pairs": 0.0,
        "snapshot.commit_s": _median(tracer.durations("snapshot.commit_snapshot")),
        # read_table plus collecting the gate's columns, over committed tables
        "snapshot.read_table_s": _median(tracer.durations("snapshot.read_table")),
        "snapshot.manifest_bytes": 0,
    })
    for key in ("stage_cover_frac", "slot_busy_frac"):
        tracer.count(f"spark.{key}.median", side.get(key, 0.0))
    if traced:
        table = traced[-1]["table"]
        snap = current_snapshot(table)
        if snap is not None:
            v["snapshot.manifest_bytes"] = (
                Path(table) / "_snapshots" / f"snap-{snap['snapshot_id']}.json").stat().st_size
    pairs = getattr(wl, "last_pairs", {})
    if "candidates" in pairs:
        spark.sparkContext.setJobGroup("perfbench-aux", "perfbench-aux")
        cand = pairs["candidates"].count()
        v["curate.verified_over_candidate_pairs"] = (
            pairs["verified"].count() / cand if cand else 0.0)
        tracer.count("curate.candidate_pairs", cand)
    replay = kernel_replay(wl.media_bytes(), tracer) if wl.has_media else {}
    for name in ("codecs.decode_ms.png.p50", "codecs.decode_ms.png.p90", "kernel.self_ms",
                 "kernel.mask_ms", "kernel.morph_ms", "kernel.components_ms",
                 "kernel.ocr_ms", "kernel.ok_frac", "kernel.components_per_image"):
        v[name] = replay.get(name, 0.0)
    base = _median([j["seconds"] for j in untraced], 1.0)
    v["trace_overhead_frac"] = (_median([j["seconds"] for j in traced], base) - base) / base
    tracer.count("spark.calls", len(calls))
    return v


def report(args, record: dict, times: list[float], values: dict, spec: dict) -> None:
    """Human-readable lines: run context, then ``metric <name> <value> <unit>``."""
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"k={record['k']} nproc={record['nproc']} "
          + " ".join(f"{k}={v}" for k, v in record["versions"].items()))
    print("inputs " + json.dumps(record["inputs"], sort_keys=True))
    t = tail(times)
    print(f"job_s samples n={len(times)} median={_median(times):.4f} s "
          + (f"p{t[0]:.0f}={t[1]:.4f} s" if t else "tail=none (fewer than 11 samples)"))
    shown = [m["name"] for m in spec["end_to_end"]]
    shown += [m["name"] for m in spec["per_layer"]
              if args.trace or m["name"] in ("media_per_s", "media_fail_frac",
                                             "wrong_output_frac", "error_frac")]
    for name in shown:
        if name in values:
            print(f"metric {name} {values[name]} {units[name]}")


if __name__ == "__main__":
    sys.exit(main())
