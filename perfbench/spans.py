"""In-memory spans around the public functions of the kernel modules.

Wrappers are installed on module attributes for the duration of a traced
pass and removed afterwards, so the package itself carries no tracing
code.  A span is ``[name, start_ns, end_ns, parent, item, error]``;
``parent`` indexes the enclosing span (-1 for a root) and ``item`` is the
turn, payload or query the span belongs to.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

# (module, attribute, span name).  Kernel modules call each other through
# module globals or the ``G.`` alias, so replacing the attribute reaches
# every call site.
KERNEL_TARGETS = [
    ("crrf_det_spark.pipeline", "extract_turn_auto", "extract.turn"),
    ("crrf_det_spark.extract", "extract_turn", "extract.grid_turn"),
    ("crrf_det_spark.extract", "html_segments", "htmlx"),
    ("crrf_det_spark.extract", "tokenize_lines", "extract.tokenize"),
    ("crrf_det_spark.extract", "collect_tables", "extract.collect"),
    ("crrf_det_spark.extract", "collect_text", "extract.collect"),
    ("crrf_det_spark.grid", "occupancy_from_text", "grid.occupancy"),
    ("crrf_det_spark.grid", "parse_grid", "grid.parse_grid"),
    ("crrf_det_spark.grid", "columns_from_grid", "grid.columns"),
    ("crrf_det_spark.grid", "row_groups_from_column", "grid.row_groups"),
    ("crrf_det_spark.grid", "row_hspacings_for_groups", "grid.hspacings"),
    ("crrf_det_spark.grid", "vertical_lines_from_hspacings", "grid.vlines"),
    ("crrf_det_spark.grid", "group_adjacent_lines", "grid.rects"),
    ("crrf_det_spark.grid", "remove_smaller_adjacent_rectangles", "grid.rects"),
    ("crrf_det_spark.grid", "remove_edge_rectangles", "grid.rects"),
    ("crrf_det_spark.grid", "is_first_rectangle_column_valid", "grid.rects"),
    ("crrf_det_spark.grid", "remove_busy_column_rectangles", "grid.rects"),
    ("crrf_det_spark.grid", "build_table", "grid.table"),
    ("crrf_det_spark.grid", "find_intersections", "grid.table"),
    ("crrf_det_spark.grid", "find_cells", "grid.table"),
    ("crrf_det_spark.grid", "group_bboxes", "grid.bboxes"),
    ("crrf_det_spark.pdfmini", "pdf_text_lines_geometry", "pdfmini"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.item: object = None

    def _open(self, name: str) -> list:
        rec = [name, time.perf_counter_ns(), 0,
               self._stack[-1] if self._stack else -1, self.item, None]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        return rec

    def _close(self, rec: list) -> None:
        self._stack.pop()
        rec[2] = time.perf_counter_ns()

    @contextlib.contextmanager
    def span(self, name: str, item: object = None):
        outer = self.item
        if item is not None:
            self.item = item
        rec = self._open(name)
        try:
            yield rec
        finally:
            self._close(rec)
            self.item = outer

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = self._open(name)
            try:
                return fn(*args, **kwargs)
            except Exception as exc:
                rec[5] = type(exc).__name__
                raise
            finally:
                self._close(rec)

        return traced

    @contextlib.contextmanager
    def installed(self, targets=KERNEL_TARGETS):
        """Replace each target attribute with its traced wrapper."""
        import importlib

        saved = []
        try:
            for mod_name, attr, name in targets:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                saved.append((mod, attr, fn))
                setattr(mod, attr, self.wrap(name, fn))
            yield self
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def write(self, path: str, items: dict[str, list] | None = None) -> None:
        """One JSON line per span.  A span without an item that lies in
        (or is) the n-th span called ``name`` carries ``items[name][n]``."""
        items = items or {}
        owner = {name: _enclosing(self.spans, name) for name in items}
        ordinal = {name: {s: n for n, s in enumerate(sorted(set(o) - {-1}))}
                   for name, o in owner.items()}
        with open(path, "w") as f:
            for i, (name, start, end, parent, item, error) in enumerate(self.spans):
                for kind, of in owner.items():
                    if item is None and of[i] >= 0:
                        item = items[kind][ordinal[kind][of[i]]]
                f.write(json.dumps({
                    "name": name, "start_ns": start, "end_ns": end,
                    "parent": parent, "item": item, "error": error,
                }) + "\n")


def _enclosing(spans: list[list], name: str) -> list[int]:
    """Index of the innermost span called ``name`` that holds each span,
    itself included (-1: none)."""
    owner = [-1] * len(spans)
    for i, rec in enumerate(spans):
        if rec[0] == name:
            owner[i] = i
        elif rec[3] >= 0:
            owner[i] = owner[rec[3]]
    return owner


def self_times(spans: list[list]) -> dict[str, dict]:
    """Per span name: call count, total ns and self ns (duration minus the
    part covered by direct children)."""
    child_ns = [0] * len(spans)
    for rec in spans:
        if rec[3] >= 0:
            child_ns[rec[3]] += rec[2] - rec[1]
    out: dict[str, dict] = {}
    for i, rec in enumerate(spans):
        agg = out.setdefault(rec[0], {"calls": 0, "total_ns": 0, "self_ns": 0})
        agg["calls"] += 1
        agg["total_ns"] += rec[2] - rec[1]
        agg["self_ns"] += rec[2] - rec[1] - child_ns[i]
    return out


def turn_paths(spans: list[list]) -> dict[str, int]:
    """Which kernel path each ``extract.turn`` span took."""
    names_under: dict[int, set] = {}
    for i, (rec, t) in enumerate(zip(spans, _enclosing(spans, "extract.turn"))):
        if t == i:
            names_under[t] = set()
        elif t >= 0:
            names_under[t].add(rec[0] if rec[5] is None else rec[0] + "!" + rec[5])
    paths = {"grid": 0, "html": 0, "html_then_grid": 0, "flow": 0, "empty": 0}
    for names in names_under.values():
        if "grid.occupancy!GridBudgetExceeded" in names:
            paths["flow"] += 1
        elif "htmlx" in names:
            paths["html_then_grid" if "extract.grid_turn" in names else "html"] += 1
        elif "grid.parse_grid" in names:
            paths["grid"] += 1
        else:
            paths["empty"] += 1
    return paths
