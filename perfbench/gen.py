"""Seeded, cached input generator for the benchmark.

Every input is derived from the testdata tables under ``perfbench/data/<sf>``
and the workload seed. The same (sf, seed, inject) always produces the same
files, which are cached under ``perfbench/.work/inputs``; a second call only
checks the cache marker.

What the seed varies:
  connector_singer    the interleaving of the ``lineitem`` and ``events``
                      RECORD lines, and where the STATE, LOG and noise lines go
  incremental_resume  where the base file ends, and so where every delta
                      boundary falls
  file_parquet        nothing: it reads the tables themselves
  query_mix           nothing: the harness runs the pinned queries in name order

Expectations for the output checks are computed here, independently of the
engine, and written to ``expected.json`` beside the inputs.
"""

import hashlib
import json
import math
import os
import random
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
MASK64 = (1 << 64) - 1

# The stream map both sync workloads apply to `events`; the Scala harness
# builds the same map (Workloads.eventsMap).
EVENTS_FILTER_MIN_VALUE = 2.0
EVENTS_BUCKETS = 16

STATE_EVERY = 10_000
LOG_EVERY = 5_000
NOISE_LINES = 7
DELTAS_PER_CYCLE = 8


def canon(rec):
    """Canonical text of one record: fields sorted by name, numbers as
    integers (a double as round-half-up of value * 100, every double in the
    data has two decimals), timestamps as ``YYYY-MM-DD HH:MM:SS.ffffff``.
    Digest.scala renders the same text from Singer JSON and from parquet."""
    parts = []
    for k in sorted(rec):
        v = rec[k]
        if v is None:
            s = "null"
        elif isinstance(v, bool):
            s = "true" if v else "false"
        elif isinstance(v, int):
            s = str(v)
        elif isinstance(v, float):
            s = str(math.floor(v * 100 + 0.5))
        elif hasattr(v, "strftime"):
            s = v.strftime("%Y-%m-%d %H:%M:%S.%f")
        else:
            s = str(v)
        parts.append(f"{k}={s}")
    return "\x1f".join(parts)


def record_hash(rec):
    return int(hashlib.md5(canon(rec).encode("utf-8")).hexdigest()[:15], 16)


def digest(records):
    """Order-independent digest: the sum of the record hashes mod 2^64."""
    total = 0
    for r in records:
        total = (total + record_hash(r)) & MASK64
    return format(total, "x")


def iso(ts):
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def table(sf_dir, name):
    import pyarrow.parquet as pq
    return pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))


def events_map(row, props_as_struct):
    """The events stream map (filter, computed, rename, drop) plus
    flattening at depth 1. Returns None when the filter drops the row."""
    if row["value"] < EVENTS_FILTER_MIN_VALUE:
        return None
    out = dict(row)
    out["user_bucket"] = row["user_id"] % EVENTS_BUCKETS
    out["kind"] = out.pop("event_type")
    del out["user_id"]
    if props_as_struct:
        for k, v in out.pop("props").items():
            out[f"props__{k}"] = v
    return out


# ---------------------------------------------------------------------------
# connector_singer


def json_type(arrow_type):
    import pyarrow as pa
    if pa.types.is_integer(arrow_type):
        return {"type": ["null", "integer"]}
    if pa.types.is_floating(arrow_type):
        return {"type": ["null", "number"]}
    if pa.types.is_timestamp(arrow_type):
        return {"type": ["null", "string"], "format": "date-time"}
    return {"type": ["null", "string"]}


def catalog_message(li_schema, ev_schema):
    li_props = {f.name: json_type(f.type) for f in li_schema}
    ev_props = {f.name: json_type(f.type) for f in ev_schema}
    ev_props["props"] = {"type": ["null", "object"],
                         "properties": {"k": {"type": ["null", "integer"]}}}
    streams = [
        {"name": "lineitem", "json_schema": {"type": "object", "properties": li_props},
         "supported_sync_modes": ["full_refresh"],
         "source_defined_primary_key": [["l_orderkey"], ["l_linenumber"]]},
        {"name": "events", "json_schema": {"type": "object", "properties": ev_props},
         "supported_sync_modes": ["full_refresh", "incremental"],
         "source_defined_cursor": True, "default_cursor_field": ["event_id"],
         "source_defined_primary_key": [["event_id"]]},
    ]
    return {"type": "CATALOG", "catalog": {"streams": streams}}


def state_message(stream, stream_state):
    return {"type": "STATE", "state": {"type": "STREAM", "stream": {
        "stream_descriptor": {"name": stream}, "stream_state": stream_state}}}


def fold_states(messages):
    """StateStore.merge for STREAM states: the V2 list is upserted by
    stream descriptor in first-seen order, and the top level is the last
    message's `stream` document."""
    v2, top = [], {}
    for m in messages:
        stream = m["stream"]
        for e in v2:
            if e["stream"]["stream_descriptor"] == stream["stream_descriptor"]:
                e["stream"]["stream_state"] = stream["stream_state"]
                break
        else:
            v2.append({"type": "STREAM", "stream": json.loads(json.dumps(stream))})
        top = json.loads(json.dumps(stream))
    top["airbyte_state"] = v2
    return top


def gen_connector(sf_dir, out, seed, inject):
    rng = random.Random(seed)
    li, ev = table(sf_dir, "lineitem"), table(sf_dir, "events")
    li_rows, ev_rows = li.to_pylist(), ev.to_pylist()
    for r in li_rows:
        r["l_shipdate"] = iso(r["l_shipdate"])
    for r in ev_rows:
        r["ts"] = iso(r["ts"])
        r["props"] = json.loads(r["props"])

    # Seeded merge that keeps each stream's own order (events stay in cursor
    # order, as a connector reading an append-only table emits them).
    order = ["lineitem"] * len(li_rows) + ["events"] * len(ev_rows)
    rng.shuffle(order)
    n = len(order)
    state_at = {max(1, min(n, i * STATE_EVERY + rng.randint(-500, 500)))
                for i in range(1, n // STATE_EVERY + 1)} | {n}
    log_at = {max(1, i * LOG_EVERY + rng.randint(-250, 250))
              for i in range(1, n // LOG_EVERY + 1)}
    noise_at = {rng.randint(1, n) for _ in range(NOISE_LINES)}
    dropped = rng.randrange(n) if inject == "drop-record" else -1

    lines, states = [], []
    li_i = ev_i = 0
    for pos, stream in enumerate(order, start=1):
        if stream == "lineitem":
            data, li_i = li_rows[li_i], li_i + 1
        else:
            data, ev_i = ev_rows[ev_i], ev_i + 1
        if pos - 1 != dropped:
            lines.append(json.dumps({"type": "RECORD", "record": {
                "stream": stream, "data": data, "emitted_at": 1700000000000}},
                separators=(",", ":")))
        if pos in state_at:
            for s, st in (("lineitem", {"position": li_i}),
                          ("events", {"event_id": ev_rows[ev_i - 1]["event_id"] if ev_i else -1})):
                msg = state_message(s, st)
                states.append(msg["state"])
                lines.append(json.dumps(msg, separators=(",", ":")))
        if pos in log_at:
            lines.append(json.dumps({"type": "LOG", "log": {
                "level": "INFO", "message": f"read {pos} records"}}))
        if pos in noise_at:
            lines.append(f"connector: progress {pos}/{n} (not JSON)")

    os.makedirs(out, exist_ok=True)
    records_path = os.path.join(out, "records.jsonl")
    with open(records_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    catalog_path = os.path.join(out, "catalog.jsonl")
    with open(catalog_path, "w") as f:
        f.write(json.dumps(catalog_message(li.schema, ev.schema)) + "\n")
    script = os.path.join(out, "connector.sh")
    with open(script, "w") as f:
        f.write("#!/bin/sh\n# Mock Airbyte connector: replays pre-generated output.\n"
                'case "$1" in\n'
                f'  discover) exec cat "{catalog_path}" ;;\n'
                f'  read) exec cat "{records_path}" ;;\n'
                '  spec) echo \'{"type":"SPEC","spec":{"connectionSpecification":{}}}\' ;;\n'
                '  check) echo \'{"type":"CONNECTION_STATUS","connectionStatus":{"status":"SUCCEEDED"}}\' ;;\n'
                '  *) echo "unknown command $1" >&2; exit 2 ;;\n'
                "esac\n")
    os.chmod(script, 0o755)

    ev_out = [r for r in (events_map(e, True) for e in ev_rows) if r is not None]
    states.append(state_message("events", {"event_id": str(max(e["event_id"] for e in ev_rows))})["state"])
    return {
        "streams": {
            "lineitem": {"records": len(li_rows), "digest": digest(li_rows)},
            "events": {"records": len(ev_out), "digest": digest(ev_out)},
        },
        "final_state": fold_states(states),
        "input_records": n,
        "input_bytes": os.path.getsize(records_path),
        "input_lines": len(lines),
        "state_lines": len(states) - 1,
        "noise_lines": len(noise_at),
    }


# ---------------------------------------------------------------------------
# file_parquet


def gen_file_parquet(sf_dir):
    expected = {}
    for name in ("lineitem", "orders", "events"):
        rows = table(sf_dir, name).to_pylist()
        if name == "events":
            rows = [r for r in (events_map(e, False) for e in rows) if r is not None]
        expected[name] = {"records": len(rows), "digest": digest(rows)}
    return {"streams": expected,
            "bookmarks": {"orders": str(max(table(sf_dir, "orders").column("o_orderkey").to_pylist())),
                          "events": str(max(table(sf_dir, "events").column("event_id").to_pylist()))}}


# ---------------------------------------------------------------------------
# incremental_resume


def gen_resume(sf_dir, out, seed, inject):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    ev = table(sf_dir, "events").sort_by("event_id")
    n = ev.num_rows
    delta_rows = min(500, n // 20)
    cut = rng.randint(n // 5, 2 * n // 5)
    os.makedirs(os.path.join(out, "deltas"), exist_ok=True)
    pq.write_table(ev.slice(0, cut), os.path.join(out, "base.parquet"))
    ids = ev.column("event_id").to_pylist()
    deltas = []
    for j in range(DELTAS_PER_CYCLE):
        part = ev.slice(cut + j * delta_rows, delta_rows)
        if inject == "dup-delta" and j == 1:
            part = pa.concat_tables([part, part.slice(rng.randrange(part.num_rows), 1)])
        path = os.path.join(out, "deltas", f"delta_{j:02d}.parquet")
        pq.write_table(part, path)
        d_ids = ids[cut + j * delta_rows: cut + (j + 1) * delta_rows]
        deltas.append({"file": path, "first_id": d_ids[0], "last_id": d_ids[-1],
                       "records": len(d_ids)})
    return {"base_bookmark": str(ids[cut - 1]), "base_file": os.path.join(out, "base.parquet"),
            "deltas": deltas}


# ---------------------------------------------------------------------------


def inputs(work, sf, seed, inject=None):
    """Returns (inputs directory, seconds spent generating; 0 on a cache hit).
    The cache key holds a hash of this file, so a changed generator never
    reuses inputs made by an older one."""
    import time
    t0 = time.monotonic()
    with open(__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:8]
    key = f"{sf}-seed{seed}" + (f"-{inject}" if inject else "") + f"-{version}"
    out = os.path.join(work, "inputs", key)
    marker = os.path.join(out, "expected.json")
    if os.path.exists(marker):
        return out, 0.0
    shutil.rmtree(out, ignore_errors=True)
    sf_dir = os.path.join(HERE, "data", sf)
    expected = {
        "sf_dir": sf_dir,
        "connector_singer": gen_connector(sf_dir, os.path.join(out, "connector"), seed, inject),
        "file_parquet": gen_file_parquet(sf_dir),
        "incremental_resume": gen_resume(sf_dir, os.path.join(out, "resume"), seed, inject),
    }
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump(expected, f, indent=1)
    os.replace(tmp, marker)
    return out, time.monotonic() - t0
