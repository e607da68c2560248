"""Spans around the calls the benchmark makes into each layer of the package.

The tracer replaces public functions with timing wrappers on the modules
that define them, and on every module that imported them by name (a wrapper
on the package re-export alone would miss those calls).  Spans are kept in
memory and written out once, when the run ends.  Layer metrics are derived
from the spans' self times: a span's duration minus the part covered by its
children.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time

PKG = "kafka_connect_expand_json_transform_spark"

# (module, attribute, span name).  A function imported by name into another
# module is listed once per module that holds a reference to it.
TARGETS = [
    ("session", "get_spark", "session.get_spark"),
    ("schema_inference", "collect_column_samples", "schema_inference.sample"),
    ("schema_inference", "infer_schema_from_samples", "schema_inference.infer"),
    ("schema_inference", "infer_schema_for_column", "schema_inference.infer_column"),
    ("operators.expand_json", "collect_column_samples", "schema_inference.sample"),
    ("operators.expand_json", "infer_schema_from_samples", "schema_inference.infer"),
    ("operators.expand_json", "expand_json", "expand_json.expand_json"),
    ("streaming.expand", "expand_json", "expand_json.expand_json"),
    ("streaming.expand", "infer_schema_for_column", "schema_inference.infer_column"),
    ("streaming.expand", "expand_json_stream", "expand_json.expand_json_stream"),
    ("sources.kafka", "expand_kafka_records", "sources.expand_kafka_records"),
    ("operators.connect_smt", "connect_transform_chain", "connect_smt.chain"),
    ("operators.connect_smt", "split_dlq", "connect_smt.split_dlq"),
    ("streaming.sources", "file_stream_source", "streaming.file_stream_source"),
    ("streaming.sources", "foreach_batch_sink", "streaming.foreach_batch_sink"),
]


def _attrs(name: str, args, kwargs, result) -> dict:
    """Counts recorded at the boundary where the work happens."""
    if name == "schema_inference.sample":
        return {"samples": len(result)}
    if name == "expand_json.expand_json":
        df = args[0] if args else kwargs["df"]
        if kwargs.get("infer", "sample") == "sample" and not df.isStreaming:
            fields = kwargs.get("fields") or (args[1] if len(args) > 1 else None)
            return {"memo_lookups": len(fields) if fields else 1}
    return {}


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = True
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, run: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "run": run or self.run_id,
               "parent": stack[-1]["id"] if stack else None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
                if rec is not None:
                    rec.update(_attrs(name, args, kwargs, result))
            if name == "connect_smt.chain":
                return self.wrap(result, "connect_smt.apply")
            return result

        return traced

    def instrument(self) -> None:
        for mod_name, attr, span_name in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            setattr(mod, attr, self.wrap(getattr(mod, attr), span_name))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the union of the intervals
    its children cover (children of one span may overlap when they ran on
    different threads)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """Per-layer totals over every traced span of the run."""
    spans = [s for s in spans if "end" in s]
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def total(*names, self_only=False):
        return sum(selfs[s["id"]] if self_only else s["end"] - s["start"]
                   for s in spans if s["name"] in names)

    def count(name):
        return sum(1 for s in spans if s["name"] == name)

    # every materialisation is paired with one bare scan of the same input
    scan_s = total("bench.scan")
    lookups = sum(s.get("memo_lookups", 0) for s in spans)
    # a sample collected under an expand_json span is a memo miss
    misses = sum(
        1 for s in spans
        if s["name"] == "schema_inference.sample" and s["parent"] is not None
        and by_id[s["parent"]]["name"] == "expand_json.expand_json"
    )
    return {
        "session.get_spark_s": total("session.get_spark"),
        "schema_inference.sample_s": total("schema_inference.sample"),
        "schema_inference.infer_s": total(
            "schema_inference.infer", "schema_inference.infer_column", self_only=True),
        "schema_inference.calls": count("schema_inference.infer"),
        "schema_inference.samples": sum(
            s.get("samples", 0) for s in spans if s["name"] == "schema_inference.sample"),
        "expand_json.plan_s": total(
            "expand_json.expand_json", "expand_json.expand_json_stream",
            "sources.expand_kafka_records", self_only=True),
        "expand_json.memo_lookups": lookups,
        "expand_json.memo_hit_ratio": (lookups - misses) / lookups if lookups else 0.0,
        "expand_json.exec_self_s": max(0.0, total("bench.materialise") - scan_s),
        "sources.scan_s": scan_s,
        "connect_smt.plan_s": total(
            "connect_smt.chain", "connect_smt.apply", "connect_smt.split_dlq"),
        "sink.write_s": total("sink.write"),
    }
