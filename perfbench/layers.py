"""Per-layer metrics for the traced run.

Two sources:
  * the Spark event log of the traced session, grouped by the job group
    the benchmark sets around each call (`pipeline.*`, `checkpoint.*`,
    `pipeline.worker_start_s`);
  * a single-process replay of the page kernel over the workload's unique
    media, timing `functions.codecs.decode_pages` / `functions.pdf.parse_pdf`
    (`functions.*`) apart from `operators.page.analyse_page` (`page.*`).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import struct
import time
from dataclasses import dataclass, field

FORMATS = ("png", "tiff", "pnm", "bmp", "jpeg", "gif", "ico", "webp_vp8l",
           "webp_vp8", "jp2", "pdf")

_PY_RUN = "time to run Python workers"
_PY_IN = "data sent to Python workers"
_PY_START = ("time to start Python workers", "time to initialize Python workers")


# --------------------------------------------------------------- event log

@dataclass
class Task:
    duration_s: float
    metrics: dict
    sql: dict            # SQL accumulables by name (python worker metrics)


@dataclass
class Stage:
    stage_id: int
    submitted_ms: int
    completed_ms: int
    tasks: list[Task] = field(default_factory=list)

    @property
    def is_kernel(self) -> bool:
        return any(t.sql.get(_PY_RUN, 0) > 0 for t in self.tasks)


def _event_files(log_dir: str) -> list[str]:
    found = []
    for base, _, files in os.walk(log_dir):
        for name in files:
            if name.startswith("appstatus") or name.endswith(".crc"):
                continue
            m = re.match(r"events_(\d+)_", name)
            found.append((int(m.group(1)) if m else 0,
                          os.path.join(base, name)))
    return [p for _, p in sorted(found)]


class EventLog:
    """Completed stages of a Spark event log, grouped by job group."""

    def __init__(self, log_dir: str):
        self.stages: dict[int, Stage] = {}
        self.group_stages: dict[str, list[int]] = {}
        tasks: dict[int, list[Task]] = {}
        for path in _event_files(log_dir):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), tasks)
        for sid, st in self.stages.items():
            st.tasks = tasks.get(sid, [])

    def _event(self, ev: dict, tasks: dict[int, list[Task]]) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                self.group_stages.setdefault(group, []).extend(
                    ev["Stage IDs"])
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if "Failure Reason" not in si:
                self.stages[si["Stage ID"]] = Stage(
                    si["Stage ID"], si["Submission Time"],
                    si["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                return
            sql = {}
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    try:
                        sql[acc["Name"]] = sql.get(acc["Name"], 0) + \
                            int(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
            tasks.setdefault(ev["Stage ID"], []).append(Task(
                (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                ev.get("Task Metrics") or {}, sql))

    def stages_of(self, *groups: str) -> list[Stage]:
        ids = {s for g in groups for s in self.group_stages.get(g, ())}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]


def _span_s(stages: list[Stage]) -> float:
    if not stages:
        return 0.0
    return (max(s.completed_ms for s in stages)
            - min(s.submitted_ms for s in stages)) / 1000.0


def _sum_task(stages: list[Stage], fn) -> float:
    return sum(fn(t) for s in stages for t in s.tasks)


def pipeline_metrics(stages: list[Stage]) -> dict[str, float]:
    """One extract's stages -> `pipeline.*`. The kernel stage is the one
    whose tasks ran Python workers (mapInPandas); shuffle-writing stages
    before it are the salt repartition, stages after it the reassembly."""
    kernel = [s for s in stages if s.is_kernel]
    first = min((s.stage_id for s in kernel), default=-1)
    last = max((s.stage_id for s in kernel), default=-1)
    salt = [s for s in stages if s.stage_id < first and _sum_task(
        [s], lambda t: t.metrics["Shuffle Write Metrics"][
            "Shuffle Bytes Written"]) > 0]
    reassembly = [s for s in stages if s.stage_id > last >= 0]
    k_tasks = [t.duration_s for s in kernel for t in s.tasks
               if t.sql.get(_PY_RUN, 0) > 0]
    shuffle_r = _sum_task(stages, lambda t: (
        t.metrics["Shuffle Read Metrics"]["Local Bytes Read"]
        + t.metrics["Shuffle Read Metrics"]["Remote Bytes Read"]))
    return {
        "pipeline.salt_stage_s": _span_s(salt),
        "pipeline.kernel_stage_s": _span_s(kernel),
        "pipeline.reassembly_stage_s": _span_s(reassembly),
        "pipeline.python_worker_s": _sum_task(
            kernel, lambda t: t.sql.get(_PY_RUN, 0)) / 1000.0,
        "pipeline.python_bytes_in": _sum_task(
            kernel, lambda t: t.sql.get(_PY_IN, 0)),
        "pipeline.kernel_task_max_s": max(k_tasks, default=0.0),
        "pipeline.kernel_task_skew": (
            max(k_tasks) / statistics.median(k_tasks) if k_tasks else 0.0),
        "pipeline.shuffle_write_mb": _sum_task(stages, lambda t: t.metrics[
            "Shuffle Write Metrics"]["Shuffle Bytes Written"]) / 1e6,
        "pipeline.shuffle_read_mb": shuffle_r / 1e6,
        "pipeline.spill_mb": _sum_task(
            stages, lambda t: t.metrics["Disk Bytes Spilled"]) / 1e6,
        "pipeline.gc_s": _sum_task(
            stages, lambda t: t.metrics["JVM GC Time"]) / 1000.0,
        "pipeline.tasks": float(sum(len(s.tasks) for s in stages)),
    }


def worker_start_s(stages: list[Stage]) -> float:
    """Seconds tasks spent starting and initialising Python workers."""
    return _sum_task(stages, lambda t: sum(
        t.sql.get(k, 0) for k in _PY_START)) / 1000.0


def kernel_stage_count(stages: list[Stage]) -> int:
    return sum(1 for s in stages if s.is_kernel)


class TracerCpu:
    """CPU time of the event log's listener thread, which serialises and
    writes every event, over timed calls in a traced session. `share` is
    that CPU over the calls' wall time x cores: the part of the machine
    tracing took while the calls ran."""

    THREAD = "spark-listener-group-eventLog"

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self.cpu_s = self.wall_s = 0.0

    def _thread_cpu_s(self) -> float:
        self._bus.waitUntilEmpty()      # every event so far is written
        mx = self._jvm.java.lang.management.ManagementFactory \
            .getThreadMXBean()
        for t in self._jvm.java.lang.Thread.getAllStackTraces().keySet():
            if t.getName() == self.THREAD:
                return mx.getThreadCpuTime(t.getId()) / 1e9
        raise RuntimeError(f"no {self.THREAD} thread: event log is off")

    def timed(self, once):
        """`once` (returning wall seconds or None), with the listener
        thread's CPU over it added up."""
        def run(group):
            before = self._thread_cpu_s()
            wall = once(group)
            if wall is not None:
                self.cpu_s += self._thread_cpu_s() - before
                self.wall_s += wall
            return wall
        return run

    def share(self, cores: int) -> float:
        return self.cpu_s / (self.wall_s * cores) if self.wall_s else 0.0


# ----------------------------------------------------------- kernel replay

def _webp_kind(data: bytes) -> str:
    """`webp_vp8l` or `webp_vp8` from the first image chunk (ANMF frames
    and VP8X containers are walked)."""
    pos, end = 12, len(data)
    while pos + 8 <= end:
        tag = data[pos:pos + 4]
        size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        if tag == b"VP8L":
            return "webp_vp8l"
        if tag == b"VP8 ":
            return "webp_vp8"
        if tag == b"ANMF":
            pos += 8 + 16          # descend into the frame's sub-chunks
            continue
        pos += 8 + size + (size & 1)
    return "webp_vp8"


def media_format(data: bytes) -> str:
    """The program's own format sniff, with WebP split by bitstream."""
    from sparkstract.operators.multimodal import _sniff

    fmt = _sniff(data)
    if fmt == "webp":
        return _webp_kind(data)
    return "ico" if fmt == "unknown" else fmt


def kernel_replay(media: list[tuple[str, bytes]], cfg) -> tuple[dict, dict]:
    """Decode then analyse every unique media in one process; returns
    (metrics, sizes).

    Mpx is decoded pixels; for PDF it is page area in user units (one
    unit = one pixel at 72 dpi), since a born-digital page has no raster.
    A format absent from the workload reports 0 s/Mpx."""
    from sparkstract.functions.codecs import decode_pages
    from sparkstract.functions.pdf import parse_pdf
    from sparkstract.operators.page import analyse_page

    dec_s = {f: 0.0 for f in FORMATS}
    dec_mpx = {f: 0.0 for f in FORMATS}
    page_ms, page_mpx, blocks, errors = [], 0.0, 0, 0
    for _ref, data in media:
        fmt = media_format(data)
        t0 = time.perf_counter()
        try:
            if fmt == "pdf":
                pdf_pages = parse_pdf(data)
                grays = [it[1] for pg in pdf_pages if not pg.has_text
                         for it in pg.items if it[0] == "image"]
                mpx = sum(pg.width * pg.height for pg in pdf_pages) / 1e6
            else:
                grays = decode_pages(data)
                mpx = sum(g.size for g in grays) / 1e6
        except Exception:  # noqa: BLE001 — the pipeline emits decode_error
            errors += 1
            continue
        dec_s[fmt] += time.perf_counter() - t0
        dec_mpx[fmt] += mpx
        for gray in grays:
            t0 = time.perf_counter()
            out = analyse_page(gray, rtl=cfg.rtl, psm=cfg.psm,
                               whitelist=cfg.char_whitelist,
                               recognizer=cfg.recognizer)
            page_ms.append((time.perf_counter() - t0) * 1000.0)
            page_mpx += gray.size / 1e6
            blocks += len(out)

    decode_s, analyse_s = sum(dec_s.values()), sum(page_ms) / 1000.0
    res = {"functions.decode_s": decode_s}
    for f in FORMATS:
        res[f"functions.decode_s_per_mpx.{f}"] = (
            dec_s[f] / dec_mpx[f] if dec_mpx[f] else 0.0)
    q = statistics.quantiles(page_ms, n=100, method="inclusive") \
        if len(page_ms) > 1 else page_ms * 99
    res.update({
        "functions.decode_errors": float(errors),
        "page.analyse_s": analyse_s,
        "page.analyse_ms_p50": statistics.median(page_ms) if page_ms else 0.0,
        "page.analyse_ms_p99": q[98] if q else 0.0,
        "page.analyse_s_per_mpx": analyse_s / page_mpx if page_mpx else 0.0,
        "page.blocks_out": float(blocks),
        "kernel.decode_share": (decode_s / (decode_s + analyse_s)
                                if decode_s + analyse_s else 0.0),
    })
    sizes = dict(raster_pages=len(page_ms), raster_mpx=round(page_mpx, 3),
                 decode_mpx=round(sum(dec_mpx.values()), 3))
    return res, sizes
