"""The SMT stream workload, ``smt_drain``.

It runs the reference chain of the paper's three transforms over
Kafka-envelope records: drop two dot-paths, hoist the rest under
``payload`` keeping ``hdr`` at the root, then serialize maps to JSON. Every
record's value sits in one of four representation columns, and the chain
holds one instance of each step per column, so each record takes exactly
one of the library's dispatch paths (the other three instances see null
and pass it through, except that the map hoist wraps null, as the
reference does for schemaless values):

* ``v_struct``      schema'd struct, pure Catalyst;
* ``v_json_schema`` JSON text with ``json_schema``, ``from_json``/``to_json``;
* ``v_json_udf``    JSON text without schema, Arrow pandas UDFs;
* ``v_map``         nested map; hoisted without ``keep_in_root`` (a map
  cannot hold the split), then serialized by ``to_json_string``.

A backlog of files is staged first and then drained with ``availableNow``
into the parquet sink of ``write_parquet_stream``, a few files per
micro-batch.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from kafka_custom_transforms_spark import drop_fields, hoist_field, to_json_string, transform_chain
from kafka_custom_transforms_spark.streaming.sinks import write_parquet_stream
from perfbench import common, gen

DROP = ("meta.trace", "body.debug")
KEEP = ("hdr",)
FIELD = "payload"
VALUE_DDL = (
    "hdr struct<id:bigint,ts:bigint>, meta struct<trace:string,src:string>, "
    "body struct<user:bigint,amount:double,debug:string>"
)
DROPPED_DDL = "hdr struct<id:bigint,ts:bigint>, meta struct<src:string>, body struct<user:bigint,amount:double>"
SOURCE_DDL = (
    "key string, topic string, partition int, offset bigint, repr int, "
    f"v_struct struct<{VALUE_DDL.replace(' struct', ':struct')}>, "
    "v_json_schema string, v_json_udf string, v_map map<string,map<string,string>>"
)
OUT_COLS = ["offset", "repr"] + [f"v_{r}" for r in gen.REPRS]
STEPS = ("drop", "hoist", "to_json")

# smt_drain: staged backlog, in files of equal size.
DRAIN_RECORDS = 120_000


def steps(rep: str) -> list:
    """The chain's three steps for one representation column."""
    col = "v_" + rep
    schema = rep == "json_schema"
    return [
        drop_fields(DROP, target=col, json_schema=VALUE_DDL if schema else None),
        hoist_field(
            FIELD,
            keep_in_root=() if rep == "map" else KEEP,
            target=col,
            json_schema=DROPPED_DDL if schema else None,
        ),
        to_json_string(target=col),
    ]


def reference_chain():
    per_rep = [steps(r) for r in gen.REPRS]
    return transform_chain(*(s[i] for i in range(len(STEPS)) for s in per_rep))


# ------------------------------------------------------------------ model

def expected(value: dict, rep: str) -> dict:
    """The reference transforms applied by hand: drop by full dotted path
    (D2), descending one level (D3 for maps, D4 for structs); hoist every
    field but ``hdr`` under ``payload`` (H2/H3), or wrap the whole map
    (H1); maps come out as JSON (J1), the rest pass through (J3)."""
    kept = {
        k: {kk: vv for kk, vv in v.items() if f"{k}.{kk}" not in DROP} for k, v in value.items()
    }
    if rep == "map":
        return {FIELD: {k: {kk: str(vv) for kk, vv in v.items()} for k, v in kept.items()}}
    return {**{k: kept[k] for k in KEEP}, FIELD: {k: v for k, v in kept.items() if k not in KEEP}}


# What each column holds for a record whose value is in another column:
# null passes through every step (D1), except that hoisting a schemaless
# map wraps null too (H1), which then serializes (J1).
EMPTY = {"struct": None, "json_schema": None, "json_udf": None, "map": {FIELD: None}}


def _decoded(rep: str, value):
    return json.loads(value) if rep != "struct" and value is not None else value


def check_sink(sink_dir: str, block: dict, offsets: np.ndarray) -> tuple[int, int]:
    """Compares the sink's rows with the model: the record's own value
    column must match, every other one must hold ``EMPTY``. The sink must
    hold as many rows as ``block`` has records, and each record of the
    sample ``offsets`` exactly once. Returns (records checked, records
    wrong or missing)."""
    files = glob.glob(os.path.join(sink_dir, "*.parquet"))
    if not files:
        return len(offsets), len(offsets)
    table = pa.concat_tables([pq.read_table(f, columns=OUT_COLS) for f in files])
    extra = abs(table.num_rows - len(block["offset"]))
    table = table.filter(pc.is_in(table["offset"], pa.array(offsets)))
    index = {int(o): i for i, o in enumerate(block["offset"])}
    seen: set[int] = set()
    wrong = 0
    for row in table.to_pylist():
        off = row["offset"]
        rep = gen.REPRS[row["repr"]]
        got = _decoded(rep, row["v_" + rep])
        ok = (
            off in index
            and off not in seen
            and got == expected(gen.smt_value(block, index[off]), rep)
            and all(_decoded(r, row["v_" + r]) == EMPTY[r] for r in gen.REPRS if r != rep)
        )
        wrong += not ok
        seen.add(off)
    missing = len(set(int(o) for o in offsets) - seen)
    return len(offsets), wrong + missing + extra


# ------------------------------------------------------------- streaming

def start_query(spark, src_dir: str, out_dir: str, sink: str, max_files: int):
    """The reference chain as an ``availableNow`` file-stream query into
    the parquet sink (``write_parquet_stream``) or the noop sink."""
    reader = spark.readStream.schema(SOURCE_DDL).option("maxFilesPerTrigger", max_files)
    out = reference_chain()(reader.parquet(src_dir)).select(*OUT_COLS)
    ckpt, path = os.path.join(out_dir, "ckpt"), os.path.join(out_dir, "sink")
    if sink == "parquet":
        return write_parquet_stream(out, path, ckpt)
    return out.writeStream.format("noop").option("checkpointLocation", ckpt).trigger(availableNow=True).start()


def progress(query) -> list[dict]:
    """Progress of every micro-batch that read data."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def stream_parts(batches: list[dict]) -> dict[str, float]:
    """Median micro-batch duration and its parts."""
    parts = {
        "stream.trigger_ms": "triggerExecution",
        "stream.add_batch_ms": "addBatch",
        "stream.query_planning_ms": "queryPlanning",
        "stream.latest_offset_ms": "latestOffset",
        "stream.wal_commit_ms": "walCommit",
        "stream.commit_offsets_ms": "commitOffsets",
    }
    out = {"stream.batches": float(len(batches))}
    out["stream.rows_per_batch"] = common.median([float(b["numInputRows"]) for b in batches])
    for name, key in parts.items():
        out[name] = common.median([float(b["durationMs"].get(key, 0)) for b in batches])
    return out


def split_files(block: dict, n_files: int) -> list[bytes]:
    n = len(block["offset"])
    cuts = [n * i // n_files for i in range(n_files + 1)]
    return [gen.smt_file_bytes(gen.smt_slice(block, cuts[i], cuts[i + 1])) for i in range(n_files)]


# ----------------------------------------------------------------- drain

def stage_drain(seed: int, src_dir: str, n_files: int, records: int = DRAIN_RECORDS) -> dict:
    """Writes the backlog into ``src_dir/backlog`` and a copy of its first
    file into ``src_dir/warm``; returns the backlog's records."""
    block = gen.smt_block(seed, records)
    for sub in ("backlog", "warm"):
        os.makedirs(os.path.join(src_dir, sub), exist_ok=True)
    for i, data in enumerate(split_files(block, n_files)):
        names = [f"backlog/{i:03d}.parquet"] + (["warm/000.parquet"] if i == 0 else [])
        for name in names:
            with open(os.path.join(src_dir, name), "wb") as f:
                f.write(data)
    return block


def stage_inputs(spark, generated: str, directory: str) -> None:
    """Links the generated files into ``directory`` and builds the
    reference chain over the backlog, which lists the source directory and
    constructs every step's expressions without running a job."""
    common.link_tree(generated, directory)
    reader = spark.readStream.schema(SOURCE_DDL)
    reference_chain()(reader.parquet(os.path.join(directory, "backlog"))).select(*OUT_COLS)


def drain_once(spark, src_dir: str, out_dir: str, n_files: int,
               sink: str = "parquet") -> tuple[float, list[dict]]:
    """Drains the backlog once. Returns the wall time from query start to
    the last commit and the progress of each micro-batch."""
    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    query = start_query(spark, src_dir, out_dir, sink, max(n_files // 3, 1))
    query.awaitTermination()
    wall = time.perf_counter() - t0
    return wall, progress(query)
