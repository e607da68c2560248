"""Seeded input generators for the benchmark, and the truth they imply.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files.  Each also returns the values a correct run
must produce (the inferred schema under the reference rules and aggregates
over the expanded leaves), computed here from the generated values and never
read back from the system under test.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

I32_MIN, I32_MAX = -(2**31), 2**31 - 1
I64_MIN, I64_MAX = -(2**63), 2**63 - 1

RECORD_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("value", pa.string()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("ms", tz="UTC")),
    ]
)
# the same tuple as a Spark DDL string, for the streaming file source
RECORD_DDL = (
    "key string, value string, topic string, partition int, offset bigint, "
    "timestamp timestamp"
)
PARTITIONS = 8
# the record timestamp of generated files (2023-11-14T22:13:20Z)
STAMP_EPOCH_MS = 1_700_000_000_000


def _write(path: str, rows: dict) -> int:
    """Write one parquet file atomically (dot-prefixed temp name, then
    rename, so a directory-watching reader never sees a partial file)."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(
        pa.Table.from_pydict(rows, schema=RECORD_SCHEMA), tmp, compression="snappy"
    )
    os.replace(tmp, path)
    return os.path.getsize(path)


def _records(values: list[str | None], topics: list[str], first_offset: int,
             ts_ms: int) -> dict:
    n = len(values)
    offs = range(first_offset, first_offset + n)
    return {
        "key": [f"k{o}" for o in offs],
        "value": values,
        "topic": topics,
        "partition": [o % PARTITIONS for o in offs],
        "offset": list(offs),
        "timestamp": [ts_ms] * n,
    }


# ---------------------------------------------------------------------------
# many_topics: dozens of small topics, each with its own schema 5-40 fields
# wide, so driver-side inference and planning dominate.  The field kinds
# carry the reference's edge cases: ints at both edges of the 32-bit and
# 64-bit limits, integers beyond 64 bits (string), a field null in the first
# record (string), empty arrays (array<string>), heterogeneous arrays typed by
# their first element, and objects nested three deep with arrays of structs.
# ---------------------------------------------------------------------------

_NESTED = ("struct<name:string,geo:struct<lat:double,zone:struct<code:int>>,"
           "items:array<struct<sku:string,qty:int>>>")
_SQL_TYPE = {
    "int_edge": "int", "bigint_edge": "bigint", "huge": "string",
    "null_first": "string", "empty_array": "array<string>",
    "hetero_array": "array<int>", "nested": _NESTED,
    "int": "int", "double": "double", "string": "string", "boolean": "boolean",
    "struct": "struct<a:int,b:string>", "array": "array<int>", "bigint": "bigint",
}
_KINDS = list(_SQL_TYPE)
# the widths of the topics of one fleet (run.TOPICS_PER_FLEET); every fleet
# has the same widths, so every fleet carries the same work and the per-topic
# latencies of any number of fleets have the same distribution
TOPIC_WIDTHS = (5, 20, 40)


def _topic_column(rng, name: str, kind: str, n: int):
    """JSON text of one field across ``n`` records, and [(agg name, SQL,
    expected)] over its leaves."""
    ints = lambda lo, hi, *shape: rng.integers(lo, hi, (n, *shape), endpoint=True)  # noqa: E731
    pick = lambda *choices: np.choose(ints(0, len(choices) - 1), [  # noqa: E731
        np.full(n, c) if isinstance(c, int) else c for c in choices])
    c = f"value.{name}"
    if kind == "int_edge":
        v = pick(I32_MIN, I32_MAX, ints(I32_MIN, I32_MAX))
        return v.tolist(), [(f"sum_{name}", f"sum(cast({c} as bigint))", int(v.sum()))]
    if kind == "bigint_edge":
        v = pick(I32_MAX + 1, I32_MIN - 1, I64_MAX, I64_MIN, ints(I32_MAX + 1, 2**62))
        vs = v.tolist()
        return vs, [(f"max_{name}", f"max({c})", max(vs)),
                    (f"min_{name}", f"min({c})", min(vs)),
                    (f"neg_{name}", f"count_if({c} < 0)", sum(x < 0 for x in vs))]
    if kind == "huge":
        kind_, off = ints(0, 2).tolist(), ints(1, 2**40).tolist()
        vs = [str((I64_MAX + 1, I64_MIN - 1, I64_MAX + o)[k]) for k, o in zip(kind_, off)]
        return vs, [(f"len_{name}", f"sum(length({c}))", sum(map(len, vs))),
                    (f"max_{name}", f"max({c})", max(vs))]
    if kind == "null_first":
        u, v = rng.random(n).tolist(), ints(0, 999).tolist()
        vs = ["null" if i == 0 or x < 0.7 else f'"n{y}"' for i, (x, y) in enumerate(zip(u, v))]
        return vs, [(f"count_{name}", f"count({c})", sum(x != "null" for x in vs))]
    if kind == "empty_array":
        v = ints(-1, 9).tolist()
        return (["[]" if x < 0 else '["t%d", "x"]' % x for x in v],
                [(f"size_{name}", f"sum(size({c}))", 2 * sum(x >= 0 for x in v))])
    if kind == "hetero_array":
        # typed by the first element (int); a later string element makes
        # from_json null the whole array
        hetero, first = (rng.random(n) < 0.2).tolist(), ints(0, 9).tolist()
        return ([('[%d, "s", 2.5]' if h else "[%d, 1]") % f for h, f in zip(hetero, first)],
                [(f"null_{name}", f"count_if({c} is null)", sum(hetero))])
    if kind == "nested":
        lat, code, k = ints(-360, 360), ints(0, 4095), ints(1, 3)
        qty = ints(1, 9, 3).tolist()
        sku, names = ints(0, 9999, 3).tolist(), ints(0, 99999).tolist()
        texts = [
            '{"name": "user%05d", "geo": {"lat": %r, "zone": {"code": %d}}, "items": [%s]}'
            % (nm, la / 4, cd, ", ".join(
                '{"sku": "s%d", "qty": %d}' % (s[j], q[j]) for j in range(kk)))
            for nm, la, cd, kk, s, q in zip(names, lat.tolist(), code.tolist(),
                                            k.tolist(), sku, qty)]
        return texts, [
            (f"lat_{name}", f"sum({c}.geo.lat)", int(lat.sum()) / 4),
            (f"code_{name}", f"sum({c}.geo.zone.code)", int(code.sum())),
            (f"items_{name}", f"sum(size({c}.items))", int(k.sum())),
        ]
    if kind in ("int", "bigint"):
        v = ints(-(10**6), 10**6) if kind == "int" else ints(I32_MAX + 1, 2**40)
        return v.tolist(), [(f"sum_{name}", f"sum({c})", int(v.sum()))]
    if kind == "double":
        v = ints(-4000, 4000)
        return [repr(x / 4) for x in v.tolist()], [
            (f"sum_{name}", f"sum({c})", int(v.sum()) / 4)]
    if kind == "string":
        v = ints(1, 12)
        return ['"%s"' % ("v" * x) for x in v.tolist()], [
            (f"len_{name}", f"sum(length({c}))", int(v.sum()))]
    if kind == "boolean":
        v = (rng.random(n) < 0.5).tolist()
        return ["true" if x else "false" for x in v], [
            (f"true_{name}", f"count_if({c})", sum(v))]
    if kind == "struct":
        a, b = ints(0, 999), ints(0, 6)
        return ['{"a": %d, "b": "%s"}' % (x, "w" * y)
                for x, y in zip(a.tolist(), b.tolist())], [
            (f"sum_{name}_a", f"sum({c}.a)", int(a.sum())),
            (f"len_{name}_b", f"sum(length({c}.b))", int(b.sum()))]
    size, v = ints(1, 4), ints(0, 9, 4).tolist()
    return ["[%s]" % ", ".join(map(str, row[:k])) for row, k in zip(v, size.tolist())], [
        (f"size_{name}", f"sum(size({c}))", int(size.sum()))]


def gen_topics(out_dir: str, seed: int, n_topics: int, n_records: int) -> dict:
    """``n_topics`` topics of ``n_records`` records, one parquet file each,
    each with its own schema 5-40 fields wide."""
    topics = []
    for t in range(n_topics):
        rng = np.random.default_rng([seed, t])
        # the width and the mix of field types are the same for every seed,
        # so seeds change names, order and values but not the work
        width = TOPIC_WIDTHS[t % len(TOPIC_WIDTHS)]
        kinds = [_KINDS[j % len(_KINDS)] for j in range(width)]
        fields = [(f"t{t}_f{j}", k) for j, k in enumerate(rng.permutation(kinds).tolist())]
        cols, aggs, expected = [], [("n", "count(1)")], {"n": n_records}
        checked = set()
        for name, kind in fields:
            texts, leaves = _topic_column(rng, name, kind, n_records)
            cols.append([f'"{name}": {x}' for x in texts])
            # aggregates over the first field of each kind; the schema check
            # covers every field
            if kind not in checked:
                checked.add(kind)
                for agg, sql, want in leaves:
                    aggs.append((agg, sql))
                    expected[agg] = want
        path = os.path.join(out_dir, f"topic-{t:03d}")
        os.makedirs(path, exist_ok=True)
        size = _write(
            os.path.join(path, "part-000.parquet"),
            _records(["{%s}" % ", ".join(row) for row in zip(*cols)],
                     [f"topic-{t:03d}"] * n_records, 0, STAMP_EPOCH_MS),
        )
        topics.append({
            "index": t,
            "dir": path,
            "records": n_records,
            "bytes": size,
            "schema": "struct<%s>" % ",".join(f"{n}:{_SQL_TYPE[k]}" for n, k in fields),
            "aggs": aggs,
            "expected": expected,
        })
    return topics


# ---------------------------------------------------------------------------
# stream_pipeline: Connect records with a creation stamp, ~1% malformed JSON
# and a debug topic that the connector's Filter SMT drops.
# ---------------------------------------------------------------------------

STREAM_SCHEMA = (
    "struct<id:int,created_ms:bigint,amount:int,"
    "user:struct<name:string,geo:struct<lat:double,lon:double>>,"
    "status:string,score:double>"
)
STREAM_TOPIC, STREAM_DEBUG_TOPIC = "orders", "debug.orders"
# the connector config the benchmark chains after ExpandJson$Value
STREAM_CHAIN = {
    "transforms": "dropDebug,flat,offset,cast",
    "transforms.dropDebug.type": "org.apache.kafka.connect.transforms.Filter",
    "transforms.dropDebug.predicate": "isDebug",
    "transforms.flat.type": "org.apache.kafka.connect.transforms.Flatten$Value",
    "transforms.flat.delimiter": "_",
    "transforms.offset.type": "org.apache.kafka.connect.transforms.InsertField$Value",
    "transforms.offset.offset.field": "kafka_offset",
    "transforms.cast.type": "org.apache.kafka.connect.transforms.Cast$Value",
    "transforms.cast.spec": "amount:float64",
    "predicates": "isDebug",
    "predicates.isDebug.type":
        "org.apache.kafka.connect.transforms.predicates.TopicNameMatches",
    "predicates.isDebug.pattern": "debug\\..*",
}
STREAM_OUT_KEYS = sorted(
    ["id", "created_ms", "amount", "user_name", "user_geo_lat", "user_geo_lon",
     "status", "score", "kafka_offset"]
)


def stream_batch(rng: random.Random, first_offset: int, n: int, ts_ms: int):
    """``n`` records stamped ``ts_ms``, and their truth: good / dead-letter /
    filtered / malformed counts and the sums a correct sink reproduces."""
    values, topics = [], []
    truth = {"records": n, "good": 0, "dlq": 0, "filtered": 0, "malformed": 0,
             "sum_amount": 0, "sum_offset": 0}
    for j in range(n):
        off = first_offset + j
        debug = rng.random() < 0.05
        amount = rng.randint(-(10**6), 10**6)
        text = json.dumps({
            "id": off, "created_ms": ts_ms, "amount": amount,
            "user": {"name": f"user{rng.randint(0, 9999)}",
                     "geo": {"lat": rng.randint(-360, 360) / 4,
                             "lon": rng.randint(-720, 720) / 4}},
            "status": rng.choice(("ok", "retry", "failed")),
            "score": rng.randint(0, 400) / 4,
        })
        malformed = rng.random() < 0.01
        if malformed:
            text = text[: rng.randint(1, len(text) - 1)]
            truth["malformed"] += 1
        values.append(text)
        topics.append(STREAM_DEBUG_TOPIC if debug else STREAM_TOPIC)
        if debug:
            truth["filtered"] += 1
        elif malformed:
            truth["dlq"] += 1
        else:
            truth["good"] += 1
            truth["sum_amount"] += amount
            truth["sum_offset"] += off
    return _records(values, topics, first_offset, ts_ms), truth


def merge_truth(parts) -> dict:
    out: dict = {}
    for p in parts:
        for k, v in p.items():
            out[k] = out.get(k, 0) + v
    return out


def gen_stream_files(out_dir: str, seed: int, n_files: int, per_file: int,
                     first_offset: int = 0, stamp_step_ms: int = 0) -> dict:
    """A closed backlog, a sampling snapshot or the files of the open-loop
    feed.  File ``f`` is stamped ``STAMP_EPOCH_MS + f * stamp_step_ms``; the
    truth is given per file and in total."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    parts, size = [], 0
    for f in range(n_files):
        rows, truth = stream_batch(rng, first_offset + f * per_file, per_file,
                                   STAMP_EPOCH_MS + f * stamp_step_ms)
        size += _write(os.path.join(out_dir, f"part-{f:05d}.parquet"), rows)
        parts.append(truth)
    return {"dir": out_dir, "bytes": size, "schema": STREAM_SCHEMA,
            "files": parts, **merge_truth(parts)}
