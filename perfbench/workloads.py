"""The workloads: inputs, the timed unit of work, the output check and
the traced figures of each.

Each workload is driven as a closed loop by one client in the driver
process: the next unit starts when the previous one has returned.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from crrf_det_spark import pipeline
from crrf_det_spark.caching import release
from crrf_det_spark.project import run_filters
from crrf_det_spark.schema import SEGMENT_ROW_SCHEMA, TRANSCRIPT_SCHEMA
from crrf_det_spark.search.index import build_index
from crrf_det_spark.search.query import search

from . import checks, inputs
from .spans import Tracer, self_times, turn_paths
from .sparkstats import TIME_KEYS, ActionCounter, PlanListener, sum_layers

# rows per Arrow batch handed to the kernel (build_session's
# spark.sql.execution.arrow.maxRecordsPerBatch)
ARROW_BATCH = 2048
MIN_PASSES = 3
MIN_CYCLES = 2


def batch_frames(records: list[dict], cols: tuple[str, ...]) -> list[pd.DataFrame]:
    """Records cut into Arrow-batch-sized pandas frames."""
    df = pd.DataFrame({c: [r[c] for r in records] for c in cols})
    return [df.iloc[i:i + ARROW_BATCH].reset_index(drop=True)
            for i in range(0, len(df), ARROW_BATCH)]


def write_parquet(frame: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    """Input tables are written with pyarrow, not Spark: a cold Spark
    write of an input cost 6-8 s of every run's set-up."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(frame, schema=schema, preserve_index=False),
                   os.path.join(path, "part-00000.parquet"))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _ms(st: dict, name: str) -> float:
    """Self time of span ``name`` in ms (0 when the layer never ran)."""
    return st.get(name, {}).get("self_ns", 0) / 1e6


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s))) - 1))]


def pipeline_metrics(layers: dict, acts: dict, counter: ActionCounter,
                     wall_s: float, nproc: int) -> dict:
    """pipeline.* figures of the timed actions; accounted_frac's base is
    the actions' slot time (wall x task slots)."""
    slot_ms = wall_s * 1e3 * nproc
    m = {f"pipeline.{k}": v for k, v in layers.items() if k != "sink_rows"}
    m["pipeline.jobs"] = acts["jobs"]
    m["pipeline.task_skew"] = counter.task_skew(acts["stages"])
    m["pipeline.slot_ms"] = slot_ms
    m["pipeline.accounted_frac"] = sum(layers[k] for k in TIME_KEYS) / slot_ms
    return m


class _CapturedFrame:
    """Stands in for the DataFrame handed to a pipeline builder and keeps
    the function the builder passes to ``mapInPandas``: the batch function
    a Python worker runs, to be called in this process."""

    def __init__(self, spark):
        self.sparkSession = spark
        self.fn = None

    def mapInPandas(self, fn, *args, **kwargs):
        self.fn = fn
        return self

    def __getattr__(self, name):
        return lambda *args, **kwargs: self


class TurnSource:
    """One input of the ``extract`` workload: its turns and goldens, the
    production call that extracts them into a sink, and the batch function
    a Python worker runs on them."""

    def __init__(self, work: str, seed: int, size: str):
        self.work = work
        self.seed = seed
        self.size = size
        self.in_dir = os.path.join(work, "input")
        self.outputs: list[str] = []
        self.pass_s: list[float] = []

    def write_input(self) -> None:
        write_parquet(self.input_frame(), self.input_schema, self.in_dir)
        self.input_bytes = dir_bytes(self.in_dir)

    def run_pass(self, spark, tag: str, checked: bool = True) -> float:
        out = os.path.join(self.work, tag)
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        self.sink(spark, spark.read.parquet(self.in_dir), out)
        wall = time.perf_counter() - t0
        if checked:
            self.outputs.append(out)
            self.pass_s.append(wall)
        return wall

    def check(self, spark) -> tuple[int, int, list[str]]:
        attempted = failed = 0
        problems: list[str] = []
        for out in self.outputs:
            got = [tuple(r) for r in spark.read.parquet(out)
                   .select("conv_id", "turn_idx", "extracted_text").collect()]
            bad = checks.check_extraction(got, self.expected)
            attempted += len(self.expected)
            failed += len(bad)
            problems += [f"{out}: {k}" for k in bad if not self.known_defect(k)]
        return attempted, failed, problems

    def known_defect(self, key) -> bool:
        return False

    def kernel_fn(self, spark):
        """The worker's batch function: Arrow-batch frames in, output
        frames out."""
        return pipeline._extract_batches

    def layer_counters(self, outs: list[pd.DataFrame]) -> dict:
        return {}


class TextTurns(TurnSource):
    """Transcript turns through ``pipeline.run_resumable_extraction``."""

    def generate(self) -> None:
        size = inputs.SIZES[self.size]
        self.rows, goldens = inputs.transcripts(
            self.seed, size["text_convs"], size["skew_convs"])
        texts = inputs.expected_texts(goldens)
        self.expected = {(r["conv_id"], r["turn_idx"]): texts.get(
            (r["conv_id"], r["turn_idx"]), "") for r in self.rows}
        self.n_turns = len(self.rows)
        self.skewed_share = inputs.skewed_share(self.rows, size["skew_convs"])

    input_schema = to_arrow_schema(TRANSCRIPT_SCHEMA)

    def input_frame(self) -> pd.DataFrame:
        return pd.DataFrame(self.rows)

    def sink(self, spark, src, out: str) -> None:
        pipeline.run_resumable_extraction(spark, src, out)

    def kernel_frames(self) -> list[pd.DataFrame]:
        return batch_frames(self.rows, ("conv_id", "turn_idx", "text"))


class PdfTurns(TurnSource):
    """PDF payload turns through ``pipeline.extract_payload_turns``."""

    def generate(self) -> None:
        self.payloads, goldens = inputs.pdf_payloads(
            self.seed, inputs.SIZES[self.size]["pdf_turns"])
        texts = inputs.expected_texts(goldens)
        self.expected = {(p["conv_id"], p["turn_idx"]): texts.get(
            (p["conv_id"], p["turn_idx"]), "") for p in self.payloads}
        self.eol_tail = {(p["conv_id"], p["turn_idx"]) for p in self.payloads
                         if p["eol_tail"]}
        self.n_turns = len(self.payloads)

    input_schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                              ("payload", pa.binary())])

    def input_frame(self) -> pd.DataFrame:
        return pd.concat(self.kernel_frames(), ignore_index=True)

    def sink(self, spark, src, out: str) -> None:
        pipeline.extract_payload_turns(src).write.mode("overwrite").parquet(out)

    def known_defect(self, key) -> bool:
        """A payload holding a stream whose bytes end in CR or LF, flagged
        when it was rendered: pdfmini strips those bytes before
        ``endstream``, which corrupts the stream, so no kernel can reach
        the golden.  Counted as failed all the same."""
        return key in self.eol_tail

    def kernel_frames(self) -> list[pd.DataFrame]:
        return batch_frames(self.payloads, ("conv_id", "turn_idx", "payload"))

    def kernel_fn(self, spark):
        """The batch function ``pipeline.extract_payload_turns`` hands to
        mapInPandas (payload decode, then the kernel).  It binds the pdfmini
        functions when it is built, so build it after installing spans."""
        frame = _CapturedFrame(spark)
        pipeline.extract_payload_turns(frame)
        return frame.fn

    def layer_counters(self, outs: list[pd.DataFrame]) -> dict:
        # a payload pdfmini decodes to no text reaches the kernel as ""
        return {"pdfmini.payload_bytes": sum(len(p["payload"]) for p in self.payloads),
                "pdfmini.empty": int(sum((o["n_chars_in"] == 0).sum() for o in outs))}


class Extract:
    """Each pass extracts the transcript turns into the bucketed production
    sink, then the PDF payload turns into parquet; one client, closed loop."""

    name = "extract"

    def __init__(self, work: str, seed: int, size: str):
        self.sources = [TextTurns(os.path.join(work, "text"), seed, size),
                        PdfTurns(os.path.join(work, "pdf"), seed, size)]
        self.pass_s: list[float] = []
        self.sink_ratio: list[float] = []

    def generate(self) -> None:
        for src in self.sources:
            src.generate()
        self.n_turns = sum(src.n_turns for src in self.sources)

    def write_input(self) -> None:
        for src in self.sources:
            src.write_input()
        self.input_bytes = sum(src.input_bytes for src in self.sources)

    def warmup(self, spark) -> None:
        """One full pass: it starts every Python worker and compiles the
        JVM paths the timed passes take (a pass over a third of the input
        left the first timed pass ~25% slower than the third)."""
        self.run_pass(spark, "warmup", checked=False)

    def run_pass(self, spark, tag: str, checked: bool = True) -> float:
        return sum(src.run_pass(spark, tag, checked) for src in self.sources)

    def measure(self, spark, seconds: float) -> None:
        """At least MIN_PASSES passes; more while the next one is expected
        to end within ``seconds``."""
        t_end = time.perf_counter() + seconds
        while len(self.pass_s) < MIN_PASSES or (
                time.perf_counter() + statistics.median(self.pass_s) <= t_end):
            tag = f"pass{len(self.pass_s)}"
            self.pass_s.append(self.run_pass(spark, tag))
            self.sink_ratio.append(sum(dir_bytes(os.path.join(src.work, tag))
                                       for src in self.sources) / self.input_bytes)

    def e2e(self) -> dict:
        return {
            "turns_per_s": statistics.median(self.n_turns / s for s in self.pass_s),
            "sink_bytes_per_input_byte": statistics.median(self.sink_ratio),
        }

    def info(self) -> dict:
        return {"turns": {type(src).__name__: src.n_turns for src in self.sources},
                "skewed_turn_share": self.sources[0].skewed_share,
                "passes": len(self.pass_s), "pass_s": self.pass_s,
                "pass_s_by_source": {type(src).__name__: src.pass_s for src in self.sources},
                "input_bytes": self.input_bytes}

    def check(self, spark) -> tuple[int, int, list[str]]:
        results = [src.check(spark) for src in self.sources]
        return (sum(r[0] for r in results), sum(r[1] for r in results),
                [p for r in results for p in r[2]])

    def kernel_pass(self, spark, frames) -> tuple[float, list[list[pd.DataFrame]]]:
        """Each source's Arrow-batch frames through its worker batch
        function, as one Python worker would run one partition."""
        fns = [src.kernel_fn(spark) for src in self.sources]
        t0 = time.perf_counter()
        outs = [list(fn(iter(batches))) for fn, batches in zip(fns, frames)]
        return time.perf_counter() - t0, outs

    def traced(self, spark, nproc: int, spans_path: str) -> dict:
        counter = ActionCounter(spark, PlanListener(spark))
        with counter.measure() as acts:
            wall = self.run_pass(spark, "traced")
        counter.close()
        m = pipeline_metrics(acts["layers"], acts, counter, wall, nproc)

        # the same inputs through the kernel in this process: untraced
        # passes on both sides of the traced one (the first also warms the
        # interpreter's caches), the faster one is the base
        frames = [src.kernel_frames() for src in self.sources]
        before_s, _o = self.kernel_pass(spark, frames)
        tracer = Tracer()
        with tracer.installed(), tracer.span("pass"):
            traced_s, outs = self.kernel_pass(spark, frames)
        untraced_s = min(before_s, self.kernel_pass(spark, frames)[0])
        ids = [[f"{c}/{t}" for f in batches for c, t in zip(f["conv_id"], f["turn_idx"])]
               for batches in frames]
        tracer.write(spans_path, {"extract.turn": [i for src_ids in ids for i in src_ids],
                                  "pdfmini": ids[1]})
        st = self_times(tracer.spans)
        turn_ms = [(r[2] - r[1]) / 1e6 for r in tracer.spans if r[0] == "extract.turn"]
        paths = turn_paths(tracer.spans)
        # the named layers' self times; the rest of the pass wall is the
        # batch loops and frame building around them
        span_self = sum(v["self_ns"] for k, v in st.items() if k != "pass") / 1e6
        rate_1 = self.n_turns / untraced_s
        m.update({
            "pipeline.turns_per_s": self.n_turns / wall,
            "pipeline.parallel_efficiency": (self.n_turns / wall) / (nproc * rate_1),
            "extract.turns_per_s_1thread": rate_1,
            "extract.turn_ms_p50": _pct(turn_ms, 0.50),
            "extract.turn_ms_p99": _pct(turn_ms, 0.99),
            "extract.turn_ms_max": max(turn_ms, default=0.0),
            "extract.tokenize_ms": _ms(st, "extract.tokenize"),
            "extract.collect_ms": _ms(st, "extract.collect"),
            "extract.self_ms": _ms(st, "extract.turn") + _ms(st, "extract.grid_turn"),
            "extract.turns": len(turn_ms),
            **{f"extract.path_{k}": v for k, v in paths.items()},
            "grid.occupancy_ms": _ms(st, "grid.occupancy"),
            "grid.columns_ms": _ms(st, "grid.columns"),
            "grid.row_groups_ms": _ms(st, "grid.row_groups"),
            "grid.hspacings_ms": _ms(st, "grid.hspacings"),
            "grid.vlines_ms": _ms(st, "grid.vlines"),
            "grid.rects_ms": _ms(st, "grid.rects"),
            "grid.table_ms": _ms(st, "grid.table"),
            "grid.bboxes_ms": _ms(st, "grid.bboxes"),
            "grid.parse_grid_self_ms": _ms(st, "grid.parse_grid"),
            "grid.tables": int(sum(o["n_tables"].sum() for src_outs in outs for o in src_outs)),
            "htmlx.ms": _ms(st, "htmlx"),
            "htmlx.calls": st.get("htmlx", {}).get("calls", 0),
            "pdfmini.ms": _ms(st, "pdfmini"),
            "pdfmini.calls": st.get("pdfmini", {}).get("calls", 0),
            "trace.pass_ms": traced_s * 1e3,
            "trace.untraced_pass_ms": untraced_s * 1e3,
            "trace.overhead_frac": traced_s / untraced_s - 1,
            "trace.span_self_ms": span_self,
            "trace.accounted_frac": span_self / (traced_s * 1e3),
            "trace.spans": len(tracer.spans),
        })
        for src, src_outs in zip(self.sources, outs):
            m.update(src.layer_counters(src_outs))
        return m



class SearchFilters:
    """Index build + a seeded query list + one filters batch per cycle."""

    name = "search_filters"

    def __init__(self, work: str, seed: int, size: str):
        self.work = work
        self.seed = seed
        self.size = size
        self.in_dir = os.path.join(work, "segments")
        self.cycles: list[dict] = []

    def generate(self) -> None:
        self.segs = inputs.segments(self.seed, inputs.SIZES[self.size]["search_turns"])
        self.queries = inputs.queries(self.seed, self.segs)
        self.filters = inputs.filters(self.queries)
        self.n_turns = len({(s[0], s[1]) for s in self.segs})
        # documents with at least one token: the postings' distinct docs
        self.n_docs = sum(1 for s in self.segs if s[4].split())

    def write_input(self) -> None:
        write_parquet(pd.DataFrame(self.segs, columns=SEGMENT_ROW_SCHEMA.fieldNames()),
                      to_arrow_schema(SEGMENT_ROW_SCHEMA), self.in_dir)
        self.input_bytes = dir_bytes(self.in_dir)

    def warmup(self, spark) -> None:
        """An index build and a filters batch of one query: the cold JVM
        runs run_filters about twice as slowly as a warm one."""
        self.cycle(spark, "warmup", [], self.filters[:1])

    def cycle(self, spark, tag: str, queries: list[str], filters: list[dict],
              tracer: Tracer | None = None, counter: ActionCounter | None = None) -> dict:
        """One index build and write, ``queries`` one at a time, then one
        run_filters batch of ``filters``."""
        idx = os.path.join(self.work, f"index-{tag}")
        shutil.rmtree(idx, ignore_errors=True)

        def span(name, item=None):
            return tracer.span(name, item) if tracer else contextlib.nullcontext()

        def act():
            return counter.measure() if counter else contextlib.nullcontext({})

        rec: dict = {"queries": [], "filters": filters, "filter_rows": None,
                     "filter_error": None}
        t0 = time.perf_counter()
        with span("search.index_build"), act() as rec["index_act"]:
            build_index(spark.read.parquet(self.in_dir)).write.mode(
                "overwrite").parquet(idx)
        rec["index_s"] = time.perf_counter() - t0
        rec["sink_ratio"] = dir_bytes(idx) / self.input_bytes
        postings = spark.read.parquet(idx)
        for qi, q in enumerate(queries):
            ta = time.perf_counter()
            rows, err = None, None
            with span("search.query", qi), act() as a:
                try:
                    res = search(postings, q, n_docs=self.n_docs)
                    rows = [r.asDict() for r in res.collect()]
                    release(res)
                except Exception:  # one bad query is a failed op, not a dead run
                    err = traceback.format_exc()
                    print(err, file=sys.stderr)
            rec["queries"].append({"q": q, "rows": rows, "error": err,
                                   "s": time.perf_counter() - ta, "act": a})
        t2 = time.perf_counter()
        with span("project.run_filters"), act() as rec["filters_act"]:
            try:
                out = run_filters(postings, filters)
                rec["filter_rows"] = [r.asDict() for r in out.collect()]
                release(out)
            except Exception:
                rec["filter_error"] = traceback.format_exc()
                print(rec["filter_error"], file=sys.stderr)
        t3 = time.perf_counter()
        rec["filters_s"] = t3 - t2
        rec["cycle_s"] = t3 - t0
        return rec

    def measure(self, spark, seconds: float) -> None:
        """At least MIN_CYCLES cycles; more while the next one is expected
        to end within ``seconds``."""
        t_end = time.perf_counter() + seconds
        while len(self.cycles) < MIN_CYCLES or (
                time.perf_counter() + self.cycles[-1]["cycle_s"] <= t_end):
            self.cycles.append(self.cycle(spark, f"c{len(self.cycles)}", self.queries,
                                          self.filters))

    def e2e(self) -> dict:
        return {
            "turns_per_s": statistics.median(self.n_turns / c["cycle_s"] for c in self.cycles),
            "sink_bytes_per_input_byte": statistics.median(c["sink_ratio"] for c in self.cycles),
        }

    def info(self) -> dict:
        lat = [q["s"] for c in self.cycles for q in c["queries"]]
        return {"turns": self.n_turns, "segments": len(self.segs),
                "cycles": len(self.cycles), "queries": len(lat),
                "index_build_s": [c["index_s"] for c in self.cycles],
                "query_p50_s": statistics.median(lat),
                "query_max_s": max(lat),
                "filters_s": [c["filters_s"] for c in self.cycles],
                "input_bytes": self.input_bytes}

    def check(self, spark) -> tuple[int, int, list[str]]:
        oracle = checks.SearchOracle(self.segs)
        want = {q: oracle.search(q) for q in self.queries}
        attempted = failed = 0
        problems: list[str] = []
        for ci, c in enumerate(self.cycles):
            got_by_query = {}
            for q in c["queries"]:
                attempted += 1
                ok = q["error"] is None and checks.same_hits(
                    checks.hits_of(q["rows"]), want[q["q"]])
                if ok:
                    got_by_query[q["q"]] = checks.hits_of(q["rows"])
                else:
                    failed += 1
                    problems.append(f"cycle {ci} query {q['q']!r}")
            per_filter: dict[str, list] = {}
            for r in c["filter_rows"] or []:
                per_filter.setdefault(r["filter_name"], []).append(r)
            for f in c["filters"]:
                attempted += 1
                got = checks.hits_of(per_filter.get(f["filter_name"], []))
                ref = got_by_query.get(f["query"], want[f["query"]])
                if c["filter_error"] is not None or not checks.same_hits(got, ref):
                    failed += 1
                    problems.append(f"cycle {ci} filter {f['filter_name']}")
        return attempted, failed, problems

    def traced(self, spark, nproc: int, spans_path: str) -> dict:
        before = self.cycle(spark, "untraced", self.queries, self.filters)
        counter = ActionCounter(spark, PlanListener(spark))
        tracer = Tracer()
        t0 = time.perf_counter()
        with tracer.span("pass"):
            rec = self.cycle(spark, "traced", self.queries, self.filters,
                             tracer=tracer, counter=counter)
        wall = time.perf_counter() - t0
        counter.close()
        tracer.write(spans_path)
        self.cycles.append(rec)
        # untraced cycles on both sides of the traced one; the faster is the base
        untraced_s = min(before["cycle_s"], self.cycle(
            spark, "untraced", self.queries, self.filters)["cycle_s"])
        q_acts = [q["act"] for q in rec["queries"]]
        acts = [rec["index_act"], rec["filters_act"], *q_acts]
        m = pipeline_metrics(
            sum_layers([a["layers"] for a in acts]),
            {"jobs": sum(a["jobs"] for a in acts),
             "stages": [s for a in acts for s in a["stages"]]},
            counter, wall, nproc)
        nq = len(q_acts)
        lat = [q["s"] * 1e3 for q in rec["queries"]]
        span_self = sum(v["self_ns"] for k, v in self_times(tracer.spans).items()
                        if k != "pass") / 1e6
        m.update({
            "pipeline.turns_per_s": self.n_turns / wall,
            "trace.span_self_ms": span_self,
            "trace.accounted_frac": span_self / (wall * 1e3),
            "search.postings_rows": rec["index_act"]["layers"]["sink_rows"],
            "search.index_build_ms": rec["index_s"] * 1e3,
            "search.index_jobs": rec["index_act"]["jobs"],
            "search.queries": nq,
            "search.query_p50_ms": statistics.median(lat),
            "search.query_max_ms": max(lat),
            "search.query_jobs": sum(a["jobs"] for a in q_acts) / nq,
            "search.query_shuffle_bytes": sum(
                a["layers"]["shuffle_bytes"] for a in q_acts) / nq,
            "project.filters_ms": rec["filters_s"] * 1e3,
            "project.filters_jobs": rec["filters_act"]["jobs"],
            "project.filter_hits": len(rec["filter_rows"] or []),
            "trace.pass_ms": wall * 1e3,
            "trace.untraced_pass_ms": untraced_s * 1e3,
            "trace.overhead_frac": wall / untraced_s - 1,
            "trace.spans": len(tracer.spans),
        })
        return m


WORKLOADS = {w.name: w for w in (Extract, SearchFilters)}
