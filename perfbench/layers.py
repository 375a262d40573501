"""Per-layer measurement, all from outside the program.

* ``SparkStages`` reads the live application's status REST API
  (``uiWebUrl`` + ``/api/v1``) for the stages of each measured job.
* ``redrive`` runs the workload's own rows through the kernel in one
  process, Arrow batch by Arrow batch, each batch once untraced and
  once with every layer's public entry point wrapped in a span
  recorder (``Tracer``).
* ``worker_peak_rss_mb`` reads the Python workers' VmHWM from /proc.
"""

from __future__ import annotations

import datetime as dt
import gc
import json
import os
import statistics
import sys
import time
import urllib.request
from collections import defaultdict

# Arrow batches (of maxRecordsPerBatch = 64 rows) re-driven per
# workload: about 1 s of single-process kernel time each.
TRACE_BATCHES = {"fixture_mix": 10, "chat_light": 64}
BATCH_ROWS = 64
MIN_PASSES = 8  # even, so each batch runs as often traced-first as untraced-first
MB = 1e6


# ---------------- Python worker memory ----------------


def worker_peak_rss_mb() -> float:
    """Largest VmHWM (peak resident set) among the Python worker
    processes descending from this process, in MB."""
    me = os.getpid()
    parent, cmd = {}, {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd[int(p)] = f.read()
        except OSError:
            continue  # exited while listing

    def ours(pid: int) -> bool:
        while pid > 1:
            pid = parent.get(pid, 0)
            if pid == me:
                return True
        return False

    peak_kb = 0
    for pid, c in cmd.items():
        if b"pyspark.daemon" in c and ours(pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peak_kb = max(peak_kb, int(line.split()[1]))
            except OSError:
                continue
    return peak_kb * 1024 / MB


# ---------------- Spark stage metrics (status REST API) ----------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _epoch(ts: str) -> float:
    return dt.datetime.strptime(ts.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkStages:
    """Stage and task data of each measured job, by job group."""

    def __init__(self):
        self.jobs: list[dict] = []
        self.resumes: list[dict] = []

    def _stages(self, spark, group: str) -> list[dict]:
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        # the listener bus is asynchronous: wait until the group's jobs
        # have ended (job end follows its stages' completion events)
        for _ in range(100):
            jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.05)
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for att in _get(f"{base}/stages/{sid}"):
                if att["status"] == "COMPLETE":
                    att["_base"] = f"{base}/stages/{sid}/{att['attemptId']}"
                    stages.append(att)
        return stages

    def job(self, spark, group: str, ret: dict, out: str) -> None:
        stages = self._stages(spark, group)
        kernel = max(stages, key=lambda s: s["outputBytes"])
        q = _get(f"{kernel['_base']}/taskSummary?quantiles=0.5,1.0")
        durations = q.get("duration") or q["executorRunTime"]
        files = sum(f.endswith(".parquet")
                    for _d, _s, fs in os.walk(os.path.join(out, "results"))
                    for f in fs)
        self.jobs.append({
            "sources.scan.input_rows": sum(s["inputRecords"] for s in stages),
            "engine.exchange.write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
            "engine.exchange.map_s": sum(s["executorRunTime"] for s in stages
                                         if s is not kernel) / 1e3,
            "engine.kernel_stage.run_s": kernel["executorRunTime"] / 1e3,
            "engine.kernel_stage.gc_s": kernel["jvmGcTime"] / 1e3,
            "engine.kernel_stage.task_p50_s": durations[0] / 1e3,
            "engine.kernel_stage.task_max_s": durations[1] / 1e3,
            "engine.sink.output_mb": kernel["outputBytes"] / MB,
            "engine.sink.files": files,
            "engine.control_tables_s": ret["returned_at"] - max(
                _epoch(s["completionTime"]) for s in stages),
        })

    def resume(self, spark, group: str, ret: dict) -> None:
        stages = self._stages(spark, group)
        self.resumes.append({
            "engine.resume.input_rows": sum(s["inputRecords"] for s in stages),
            "engine.resume.buckets_run": ret["buckets_run"],
        })

    def metrics(self) -> dict:
        out = {}
        for rows in (self.jobs, self.resumes):
            for k in (rows[0] if rows else {}):
                out[k] = {"value": float(statistics.median(r[k] for r in rows)),
                          "unit": unit(k)}
        return out


# ---------------- kernel layers: spans around public entry points ----------------


class Tracer:
    """In-memory span recorder.  ``install`` wraps each layer's public
    entry point where its caller binds it; every call records
    (name, parent span, start, end), plus the layer's work counts and
    raised exceptions."""

    def __init__(self):
        # one span per index: columns of immutable values, so recording
        # a span allocates nothing the cyclic collector has to track
        self.names: list[str] = []
        self.parents: list[int] = []
        self.starts: list[float] = []
        self.ends: list[float] = []
        self.stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._undo: list = []

    def traced(self, name: str, fn, count=None):
        """``fn`` wrapped to record a span per call; ``count`` is
        (suffix, result → number) for a work count."""
        names, parents, starts, ends = self.names, self.parents, self.starts, self.ends
        stack, counts, clock = self.stack, self.counts, time.perf_counter

        def traced(*args, **kwargs):
            i = len(names)
            names.append(name)
            parents.append(stack[-1] if stack else -1)
            ends.append(0.0)
            stack.append(i)
            starts.append(clock())
            try:
                result = fn(*args, **kwargs)
            except Exception:
                counts[name + ".errors"] += 1
                raise
            finally:
                ends[i] = clock()
                stack.pop()
            if count is not None:
                counts[name + count[0]] += count[1](result)
            return result

        return traced

    def call(self, name: str, fn, *args, **kwargs):
        return self.traced(name, fn)(*args, **kwargs)

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        raw = owner.__dict__[attr]
        traced = self.traced(name, getattr(owner, attr), count)
        if isinstance(raw, classmethod):  # getattr bound it to the class
            traced = staticmethod(traced)
        setattr(owner, attr, traced)
        self._undo.append((owner, attr, raw))

    def install(self) -> None:
        from pdf_parser_c_spark import engine
        from pdf_parser_c_spark.extract import document
        from pdf_parser_c_spark.pdf import content

        self.wrap(engine, "extract_pandas_batch", "engine.kernel")
        self.wrap(engine, "classify_payload", "engine.sniff")
        self.wrap(engine, "_decode_armor", "engine.armor")
        self.wrap(engine, "parse_pdf_bytes", "extract.document")
        self.wrap(engine, "extract_main_text", "html.boilerplate")
        self.wrap(document.PDFDocument, "open", "pdf.cos.open")
        self.wrap(document.PDFDocument, "pages", "pdf.cos.pages")
        self.wrap(document.PDFDocument, "page_content", "pdf.cos.page_content",
                  (".bytes", len))
        self.wrap(document.ContentInterpreter, "run", "pdf.content.run",
                  (".glyphs", len))
        self.wrap(content, "load_font", "pdf.fonts.load_font", (".calls", lambda _: 1))
        self.wrap(document, "layout_page", "pdf.layout.layout_page",
                  (".blocks", len))
        self.wrap(document, "extract_text_block_information", "extract.blocks")
        for attr in ("fold_sections", "build_tree", "flatten_tree"):
            self.wrap(document, attr, "extract.sections")
        extractors = engine._format_extractors()
        for kind in list(extractors):
            self.wrap_format(extractors, kind)

    def wrap_format(self, extractors: dict, kind: str) -> None:
        fn = extractors[kind]
        extractors[kind] = self.traced(
            "formats", fn, (".errors", lambda r: r["status"] == "error"))
        self._undo.append((extractors, kind, fn))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._undo):
            if isinstance(owner, dict):
                owner[attr] = raw
            else:
                setattr(owner, attr, raw)
        self._undo.clear()

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover, summed
        per layer name."""
        child = [0.0] * len(self.names)
        for parent, t0, t1 in zip(self.parents, self.starts, self.ends):
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for name, t0, t1, c in zip(self.names, self.starts, self.ends, child):
            out[name] += t1 - t0 - c
        return out


def _pass(batches, schema, tracer: Tracer | None):
    """Arrow → pandas → kernel → Arrow over every batch, as the
    ``mapInPandas`` worker does → (wall seconds, output tables)."""
    import pyarrow as pa

    from pdf_parser_c_spark import engine

    call = tracer.call if tracer else (lambda _name, fn, *a, **k: fn(*a, **k))
    outs = []
    t0 = time.perf_counter()
    for b in batches:
        pdf = call("engine.arrow_to_pandas", b.to_pandas)
        out = engine.extract_pandas_batch(pdf)
        outs.append(call("engine.pandas_to_arrow", pa.Table.from_pandas, out,
                         schema=schema, preserve_index=False))
    return time.perf_counter() - t0, outs


def _paired_pass(batches, schema, flip: int) -> tuple[list, list]:
    """Every batch once untraced and once traced, back to back, the
    order alternating by batch and, through ``flip``, by pass → (per
    batch (untraced wall, traced wall, tracer), traced outputs).  Pairing at batch scale (tens of ms) keeps
    drift of the host's speed out of the traced ÷ untraced comparison."""
    per_batch, outs = [], []
    for k, b in enumerate(batches):
        tracer = Tracer()
        for run_traced in ((True, False) if (k + flip) % 2 else (False, True)):
            if not run_traced:
                plain = _pass([b], schema, None)[0]
                continue
            tracer.install()
            try:
                traced, out = _pass([b], schema, tracer)
            finally:
                tracer.uninstall()
            outs += out
        per_batch.append((plain, traced, tracer))
    return per_batch, outs


def redrive(workload: str, src: str, checker, seconds: float) -> dict:
    """One warm-up pass over the workload's first Arrow batches, then
    paired passes for ``seconds`` (at least ``MIN_PASSES``, an even
    number) → per-layer metrics.  Each batch's times are medians over
    the passes, which drops the batches a burst of host load hit; a
    metric sums them over batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdf_parser_c_spark import engine

    f = pq.ParquetFile(src)
    batches = [b for _, b in zip(range(TRACE_BATCHES[workload]),
                                 f.iter_batches(batch_size=BATCH_ROWS))]
    schema = to_arrow_schema(engine.RESULT_SCHEMA)
    reference = pa.concat_tables(_pass(batches, schema, None)[1])
    checker.check_frame(
        reference.select(["conv_id", "turn_idx", "status", "text"]).to_pandas(),
        pa.Table.from_batches(batches).select(["conv_id", "turn_idx"]).to_pandas())
    passes = []  # per pass, per batch: (untraced wall, traced wall, self times)
    # keep full collections short, so that one landing on either side
    # of a pair does not tip it: the heap so far is never scanned again
    gc.collect()
    gc.freeze()
    # one CPU for both sides of every pair: moving between CPUs of a
    # shared host changed the speed of one side more than the tracer did
    cpus = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {max(cpus)})
    try:
        t_end = time.perf_counter() + seconds
        while (len(passes) < MIN_PASSES or len(passes) % 2
               or time.perf_counter() < t_end):
            per_batch, outs = _paired_pass(batches, schema, len(passes))
            passes.append([(p, t, tr.self_times()) for p, t, tr in per_batch])
            if not pa.concat_tables(outs).equals(reference):
                raise AssertionError(
                    "traced re-drive output differs from extract_pandas_batch")
    finally:
        os.sched_setaffinity(0, cpus)
        gc.unfreeze()
    counts: dict[str, float] = defaultdict(float)
    for _p, _t, tracer in per_batch:
        for k, v in tracer.counts.items():
            counts[k] += v

    def over_batches(value) -> float:
        """Sum over batches of the per-batch median over passes."""
        return sum(statistics.median(value(*run[k]) for run in passes)
                   for k in range(len(batches)))

    def self_s(name: str) -> float:
        return over_batches(lambda _p, _t, s: s.get(name, 0.0))

    plain = over_batches(lambda p, _t, _s: p)
    # the layers' self times should add up to the untraced kernel wall:
    # the spans leave no kernel work out and the tracer adds little.
    # Repeats of one input read 1.02-1.07 on a shared 4-core host, so
    # only a miss by more than 10% (work outside every span, or a
    # tracer that got expensive) aborts the run
    accounted = over_batches(lambda _p, _t, s: sum(s.values())) / plain
    print(f"perfbench: layer self times sum to {accounted:.3f} x the untraced "
          f"kernel wall ({'within' if abs(accounted - 1) <= 0.05 else 'outside'} 5%)",
          file=sys.stderr)
    if not 0.9 <= accounted <= 1.1:
        raise AssertionError(f"layer self times sum to {accounted:.3f} x the "
                             f"untraced kernel wall, outside [0.9, 1.1]")
    values = {
        "engine.kernel.self_s": self_s("engine.kernel"),
        "engine.sniff.s": self_s("engine.sniff"),
        "engine.armor.s": self_s("engine.armor"),
        "engine.arrow_to_pandas.s": self_s("engine.arrow_to_pandas"),
        "engine.pandas_to_arrow.s": self_s("engine.pandas_to_arrow"),
        "pdf.cos.open.s": self_s("pdf.cos.open"),
        "pdf.cos.open.errors": counts.get("pdf.cos.open.errors", 0),
        "pdf.cos.pages.s": self_s("pdf.cos.pages"),
        "pdf.cos.page_content.s": self_s("pdf.cos.page_content"),
        "pdf.cos.page_content.bytes": counts.get("pdf.cos.page_content.bytes", 0),
        "pdf.content.run.self_s": self_s("pdf.content.run"),
        "pdf.content.glyphs": counts.get("pdf.content.run.glyphs", 0),
        "pdf.fonts.load_font.s": self_s("pdf.fonts.load_font"),
        "pdf.fonts.load_font.calls": counts.get("pdf.fonts.load_font.calls", 0),
        "pdf.layout.layout_page.s": self_s("pdf.layout.layout_page"),
        "pdf.layout.blocks": counts.get("pdf.layout.layout_page.blocks", 0),
        "extract.document.self_s": self_s("extract.document"),
        "extract.blocks.s": self_s("extract.blocks"),
        "extract.sections.s": self_s("extract.sections"),
        "extract.document.page_errors": counts.get("pdf.cos.page_content.errors", 0)
        + counts.get("pdf.content.run.errors", 0),
        "html.boilerplate.s": self_s("html.boilerplate"),
        "formats.s": self_s("formats"),
        "formats.errors": counts.get("formats.errors", 0),
        "trace.kernel_wall_s": plain,
        "trace.self_sum_ratio": accounted,
        "trace.overhead_ratio": over_batches(lambda _p, t, _s: t) / plain,
    }
    return {k: {"value": float(v), "unit": unit(k)} for k, v in values.items()}


def unit(name: str) -> str:
    """Unit of a per-layer metric, by the suffix of its name."""
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(".bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"
