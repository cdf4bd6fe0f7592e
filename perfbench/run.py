#!/usr/bin/env python3
"""sparkstract extraction benchmark.

    python3 perfbench/run.py --workload codec_mix --seed 1 --seconds 10 \\
        --trace 0

Run from the root of a source checkout. One driver process builds the
workload's inputs from `--seed` (`sparkstract.fixtures.gen`, written as
parquet), starts Spark on `local[nproc]`, and times the program's public
entry points: `sources.docs.read_docs`/`read_media`,
`plans.pipeline.extract`, and `plans.checkpoint.run_job`/`read_result`/
`lineage`. Every doc's span sequence is checked against the generator's
truth. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The line before
it records the inputs' sha256 fingerprints and the program's source hash.
Workloads, sizes and what each metric should move are in
perfbench/manifest.json.

Everything the run writes goes under `.perfbench/` in the checkout and is
removed before it exits.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import check
import layers
import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("codec_mix", "layout_png")
SETUPS = 3                 # setup_s is the median of this many set-ups
N_GROUPS = 2               # run_job bucket groups; the kill is at half
WARM_DOCS_PER_CORE = 4     # warm-up extract size
TIME_LIMIT_S = 170         # hard stop, under the 180 s a run may take


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _source_sha256() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sparkstract")
    for base, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith((".py", ".npz")):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _git_head() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                head = f.read().strip()
        return head
    except OSError:
        return None


def _environment(run_dir: str, trace_dir: str) -> None:
    """Point every write of the driver, JVM and workers into run_dir and
    let Spark's Python workers import this checkout's `sparkstract`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={run_dir}/warehouse",
        "--conf", f"spark.eventLog.dir=file://{trace_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "pyspark-shell"])
    import tempfile
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


class Bench:
    def __init__(self, args, pending_inputs, run_dir: str):
        """`pending_inputs` is a future of `workloads.Inputs`: the first
        set-up starts the session while the inputs are still generated."""
        from sparkstract.config import ExtractConfig

        self.args, self.run_dir = args, run_dir
        self._pending, self.inputs = pending_inputs, None
        self.cores = len(os.sched_getaffinity(0))
        self.master = f"local[{self.cores}]"
        self.partitions = 4 * self.cores
        self.cfg = ExtractConfig(work_partitions=self.partitions)
        self.spark = self.docs = self.media = None
        self.attempted = self.failed = 0
        self.setup_s: list[float] = []
        self.start_s: list[float] = []
        self.read_s: list[float] = []
        self.runs: list = []        # every timed result, for the info line

    # ------------------------------------------------------------ set-up
    def setup(self, traced: bool = False) -> None:
        """Session start, input load and warm-up extract: one `setup_s`
        sample. A traced set-up turns on the event log for its session."""
        from pyspark import SparkContext
        from pyspark.sql import functions as F

        from sparkstract.plans.pipeline import extract
        from sparkstract.session import get_spark
        from sparkstract.sources.docs import read_docs, read_media

        if self.spark is not None:
            self.spark.stop()
        if traced:
            SparkContext._jvm.java.lang.System.setProperty(
                "spark.eventLog.enabled", "true")
        t0 = time.perf_counter()
        self.spark = get_spark(self.master,
                               app=f"perfbench-{self.args.workload}",
                               shuffle_partitions=self.partitions)
        self.spark.sparkContext.setLogLevel("ERROR")
        start = time.perf_counter() - t0
        if self.inputs is None:       # not timed: input generation
            self.inputs = self._pending.result()
            check.self_check(self.inputs.truth)
        t1 = time.perf_counter()
        self._group("setup")
        self.docs = read_docs(self.spark, self.inputs.docs_path)
        self.media = read_media(self.spark, self.inputs.media_path)
        self.docs.count()
        self.media.count()
        t2 = time.perf_counter()
        warm = sorted(self.inputs.truth)[:WARM_DOCS_PER_CORE * self.cores]
        extract(self.spark, self.docs.filter(F.col("doc_id").isin(warm)),
                self.media, self.cfg).toPandas()
        t3 = time.perf_counter()
        self.start_s.append(start)
        self.read_s.append(t2 - t1)
        self.setup_s.append(start + t3 - t1)

    def _group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=20)
                except Exception:  # noqa: BLE001 — stop_tree kills it
                    pass

    # ----------------------------------------------------------- checks
    def _check(self, got_df) -> None:
        got = check.sequences(got_df)
        failed = check.count_failed(got, self.inputs.truth)
        if failed:
            bad = sorted(d for d in set(got) | set(self.inputs.truth)
                         if got.get(d) != self.inputs.truth.get(d))
            print(f"perfbench: {failed} docs failed the span check: "
                  f"{bad[:10]}", file=sys.stderr)
        self.attempted += len(self.inputs.truth)
        self.failed += failed

    def _raised(self, where: str) -> None:
        print(f"perfbench: {where} raised:\n{traceback.format_exc()}",
              file=sys.stderr)
        self.attempted += len(self.inputs.truth)
        self.failed += len(self.inputs.truth)

    # ------------------------------------------------------- timed work
    def extract_once(self, group: str) -> float | None:
        """One full extract, collected; its wall time or None if raised."""
        from sparkstract.plans.pipeline import extract

        self._group(group)
        try:
            t0 = time.perf_counter()
            got = extract(self.spark, self.docs, self.media,
                          self.cfg).toPandas()
            wall = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a run that raised is failed
            self._raised("extract")
            return None
        self._check(got)
        return wall

    def job_once(self, group: str) -> dict | None:
        """run_job killed after half the groups, then resumed, then
        read_result: per-leg wall times and what the job wrote, or None if
        it raised."""
        from sparkstract.plans.checkpoint import (InjectedFailure, lineage,
                                                  read_result, run_job)

        out = os.path.join(self.run_dir, group)
        try:
            self._group(f"{group}-leg1")
            t0 = time.perf_counter()
            try:
                run_job(self.spark, self.docs, self.media, out, self.cfg,
                        run_id="leg1", n_groups=N_GROUPS,
                        fail_after_groups=N_GROUPS // 2)
                raise RuntimeError("run_job did not stop at the kill")
            except InjectedFailure:
                pass
            self._group(f"{group}-leg2")
            t1 = time.perf_counter()
            run_job(self.spark, self.docs, self.media, out, self.cfg,
                    run_id="leg2", n_groups=N_GROUPS)
            self._group(f"{group}-read")
            t2 = time.perf_counter()
            got = read_result(self.spark, out).toPandas()
            t3 = time.perf_counter()
            lin = lineage(self.spark, out).toPandas()
        except Exception:  # noqa: BLE001 — a run that raised is failed
            self._raised("run_job")
            return None
        self._check(got)
        files = [os.path.join(b, n) for b, _, ns in os.walk(out) for n in ns]
        res = dict(first_leg_s=t1 - t0, resume_s=t2 - t1,
                   read_result_s=t3 - t2,
                   committed=int(len(lin)),
                   skipped=int((lin["run_id"] == "leg1").sum()),
                   written_mb=sum(os.path.getsize(p) for p in files) / 1e6,
                   files=len(files))
        shutil.rmtree(out, ignore_errors=True)
        return res

    def loop(self, seconds: float, once, group: str) -> list[tuple]:
        """Repeat `once` until `seconds` have passed (at least once);
        (job group, result) of every call that did not raise."""
        out, deadline = [], time.perf_counter() + seconds
        for i in itertools.count():
            r = once(f"{group}-{i}")
            if r is not None:
                out.append((f"{group}-{i}", r))
                self.runs.append(r)
            if time.perf_counter() >= deadline:
                return out


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(b: Bench) -> dict[str, float]:
    """The set-ups, one untimed extract (the workers' lazy per-format
    imports and caches fill), then the timed extracts. Peak RSS is
    sampled over the timed extracts."""
    for _ in range(SETUPS):
        b.setup()
    b.extract_once("prime")
    with procs.RssSampler(os.getpid()) as rss:
        wall = _median([w for _, w in b.loop(b.args.seconds, b.extract_once,
                                             "extract")])
    ok = (b.attempted - b.failed) / b.attempted if b.attempted else 0.0
    return {"docs_per_s": ok * len(b.inputs.truth) / wall if wall else 0.0,
            "setup_s": _median(b.setup_s), "peak_rss_mb": rss.peak_mb}


def per_layer(b: Bench, trace_dir: str) -> dict[str, float]:
    """Untraced set-ups, then a traced session (event log on): traced
    extracts (`pipeline.*`) and one killed-and-resumed job
    (`checkpoint.*`); then the single-process kernel replay
    (`functions.*`, `page.*`)."""
    for _ in range(SETUPS - 1):
        b.setup()
    b.setup(traced=True)
    b.extract_once("prime")
    tracer = layers.TracerCpu(b.spark)
    traced = b.loop(b.args.seconds / 2, tracer.timed(b.extract_once),
                    "extract")
    leg = b.job_once("job")
    b.spark.stop()          # closes the event log
    b.spark = None

    log = layers.EventLog(trace_dir)
    per_run = [layers.pipeline_metrics(log.stages_of(g)) for g, _ in traced] \
        or [layers.pipeline_metrics([])]
    m = {k: _median([p[k] for p in per_run]) for k in per_run[0]}
    leg = leg or dict(first_leg_s=0.0, resume_s=0.0, read_result_s=0.0,
                      committed=0, skipped=0, written_mb=0.0, files=0)
    m.update({
        "pipeline.worker_start_s": layers.worker_start_s(
            log.stages_of("setup")),
        "session.start_s": _median(b.start_s),
        "sources.read_s": b.read_s[-1],
        "checkpoint.first_leg_s": leg["first_leg_s"],
        "checkpoint.resume_s": leg["resume_s"],
        "checkpoint.read_result_s": leg["read_result_s"],
        "checkpoint.groups_committed": float(leg["committed"]),
        "checkpoint.groups_skipped": float(leg["skipped"]),
        "checkpoint.redo_ratio": layers.kernel_stage_count(
            log.stages_of("job-leg1", "job-leg2")) / N_GROUPS,
        "checkpoint.written_mb": leg["written_mb"],
        "checkpoint.files_written": float(leg["files"]),
        "trace.overhead_frac": tracer.share(b.cores),
    })
    replay, sizes = layers.kernel_replay(b.inputs.media, b.cfg)
    m.update(replay)
    b.inputs.sizes.update(sizes)
    return m


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkstract", "__init__.py")):
        print(f"perfbench: no sparkstract package under {ROOT}; run from a "
              "source checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(TIME_LIMIT_S)
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    trace_dir = os.path.join(run_dir, "eventlog")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(trace_dir)
    _environment(run_dir, trace_dir)

    import workloads

    bench = None
    try:
        pool = ThreadPoolExecutor(1)
        pending = pool.submit(workloads.build, args.workload, args.seed,
                              os.path.join(run_dir, "inputs"))
        pool.shutdown(wait=False)
        bench = Bench(args, pending, run_dir)
        metrics = per_layer(bench, trace_dir) if args.trace \
            else end_to_end(bench)
        bench.stop()
    finally:
        signal.alarm(0)
        if bench is not None and bench.spark is not None:
            try:
                bench.stop()
            except Exception:  # noqa: BLE001 — stop_tree still cleans up
                pass
        procs.stop_tree(os.getpid())
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    names = {m["name"] for m in wanted}
    if set(metrics) != names:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ names)}")
    info = dict(workload=args.workload, seed=args.seed,
                master=bench.master, partitions=bench.partitions,
                git_head=_git_head(), program_sha256=_source_sha256(),
                **bench.inputs.fingerprint, sizes=bench.inputs.sizes,
                runs=bench.runs,
                setup_s=bench.setup_s, start_s=bench.start_s,
                read_s=bench.read_s)
    print("perfbench-info " + json.dumps(info))
    print(json.dumps({
        "correct": bench.failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]],
                                "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
