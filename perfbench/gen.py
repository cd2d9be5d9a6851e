"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (and size arguments): the
same seed yields byte-identical parquet files, a different seed different
ones. Nothing here touches Spark; inputs are written with pyarrow so that
generation cost stays out of the engine's timings.

* :func:`smt_block` / :func:`smt_file_bytes` build Kafka-envelope records
  whose value is one logical nested record carried in one of four
  representations (schema'd struct, JSON for the ``json_schema`` path, JSON
  for the schema-free Arrow-UDF path, nested map).
* :func:`registry_tables` writes the ten TPC-H-like tables (same
  names, columns and types as the repository's ``sf*`` test data, same row
  counts per scale factor) that the ``__spark_entry__.queries()`` functions
  read.
"""

from __future__ import annotations

import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Representation codes, in the order the library dispatches on them.
REPRS = ("struct", "json_schema", "json_udf", "map")
# Stated share of records per representation (sums to 1).
REPR_SHARES = (0.25, 0.25, 0.25, 0.25)

STRUCT_TYPE = pa.struct(
    [
        ("hdr", pa.struct([("id", pa.int64()), ("ts", pa.int64())])),
        ("meta", pa.struct([("trace", pa.string()), ("src", pa.string())])),
        (
            "body",
            pa.struct(
                [("user", pa.int64()), ("amount", pa.float64()), ("debug", pa.string())]
            ),
        ),
    ]
)
MAP_TYPE = pa.map_(pa.string(), pa.map_(pa.string(), pa.string()))
SMT_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("repr", pa.int32()),
        ("v_struct", STRUCT_TYPE),
        ("v_json_schema", pa.string()),
        ("v_json_udf", pa.string()),
        ("v_map", MAP_TYPE),
    ]
)
_SOURCES = ("gen", "edge", "batch", "replay")
_EPOCH_2024_MS = 1_704_067_200_000


def smt_block(seed: int, n: int) -> dict:
    """Columns of ``n`` logical records with offsets ``0..n-1``."""
    rng = np.random.default_rng([seed, 1])
    return {
        "offset": np.arange(n, dtype=np.int64),
        "repr": rng.choice(len(REPRS), size=n, p=REPR_SHARES).astype(np.int32),
        "ts": _EPOCH_2024_MS + rng.integers(0, 86_400_000, size=n),
        "user": rng.integers(0, 5000, size=n),
        "cents": rng.integers(0, 1_000_000, size=n),
        "trace": rng.integers(0, 2**40, size=n),
        "src": rng.integers(0, len(_SOURCES), size=n),
    }


def smt_value(block: dict, i: int) -> dict:
    """The logical nested value of record ``i`` of a block."""
    trace = int(block["trace"][i])
    return {
        "hdr": {"id": int(block["offset"][i]), "ts": int(block["ts"][i])},
        "meta": {"trace": f"{trace:010x}", "src": _SOURCES[block["src"][i]]},
        "body": {
            "user": int(block["user"][i]),
            "amount": int(block["cents"][i]) / 100,
            "debug": f"dbg-{trace % 997}",
        },
    }


def _scatter(values: pa.Array, rows: np.ndarray, n: int) -> pa.Array:
    """``values`` (one per row in ``rows``) placed at those rows of an
    ``n``-row column; every other row is null."""
    idx = np.full(n, -1, dtype=np.int64)
    idx[rows] = np.arange(len(rows))
    return values.take(pa.array(idx, mask=idx < 0))


def smt_table(block: dict) -> pa.Table:
    """Kafka-envelope table: the record's value sits in the column of its
    representation; the other three value columns are null."""
    n = len(block["offset"])
    ids, ts, user = block["offset"], block["ts"], block["user"]
    amount = block["cents"] / 100
    trace = [f"{t:010x}" for t in block["trace"].tolist()]
    debug = [f"dbg-{t % 997}" for t in block["trace"].tolist()]
    src = np.array(_SOURCES)[block["src"]]
    rows = {r: np.flatnonzero(block["repr"] == k) for k, r in enumerate(REPRS)}

    s = rows["struct"]
    struct = pa.StructArray.from_arrays(
        [
            pa.StructArray.from_arrays([pa.array(ids[s]), pa.array(ts[s])], ["id", "ts"]),
            pa.StructArray.from_arrays(
                [pa.array([trace[i] for i in s], pa.string()), pa.array(src[s])],
                ["trace", "src"],
            ),
            pa.StructArray.from_arrays(
                [pa.array(user[s]), pa.array(amount[s]), pa.array([debug[i] for i in s], pa.string())],
                ["user", "amount", "debug"],
            ),
        ],
        fields=list(STRUCT_TYPE),
    )

    def json_text(sel: np.ndarray) -> pa.Array:
        a, d, u, o, sr = amount[sel].tolist(), ts[sel].tolist(), user[sel].tolist(), ids[sel].tolist(), src[sel].tolist()
        return pa.array(
            [
                f'{{"hdr":{{"id":{o[j]},"ts":{d[j]}}},"meta":{{"trace":"{trace[i]}","src":"{sr[j]}"}},'
                f'"body":{{"user":{u[j]},"amount":{a[j]!r},"debug":"{debug[i]}"}}}}'
                for j, i in enumerate(sel.tolist())
            ],
            pa.string(),
        )

    m = rows["map"]
    k = len(m)
    inner_keys = np.tile(np.array(["id", "ts", "trace", "src", "user", "amount", "debug"]), k)
    inner_vals = np.empty(7 * k, dtype=object)
    for col, vals in enumerate(
        (ids[m], ts[m], [trace[i] for i in m], src[m], user[m], amount[m].tolist(), [debug[i] for i in m])
    ):
        inner_vals[col::7] = [str(v) for v in (vals.tolist() if hasattr(vals, "tolist") else vals)]
    inner_off = np.concatenate([[0], np.cumsum(np.tile([2, 2, 3], k))]).astype(np.int32)
    inner = pa.MapArray.from_arrays(
        pa.array(inner_off), pa.array(inner_keys, pa.string()), pa.array(inner_vals, pa.string())
    )
    outer = pa.MapArray.from_arrays(
        pa.array(np.arange(0, 3 * k + 1, 3, dtype=np.int32)),
        pa.array(np.tile(np.array(["hdr", "meta", "body"]), k), pa.string()),
        inner,
    )
    cols = {
        "key": pa.array([f'{{"user":{u}}}' for u in user.tolist()], pa.string()),
        "topic": pa.array(["smt"] * n, pa.string()),
        "partition": pa.array((ids % 8).astype(np.int32)),
        "offset": pa.array(ids),
        "repr": pa.array(block["repr"]),
        "v_struct": _scatter(struct, s, n),
        "v_json_schema": _scatter(json_text(rows["json_schema"]), rows["json_schema"], n),
        "v_json_udf": _scatter(json_text(rows["json_udf"]), rows["json_udf"], n),
        "v_map": _scatter(outer.cast(MAP_TYPE), m, n),
    }
    return pa.table(cols, schema=SMT_SCHEMA)


def smt_file_bytes(block: dict) -> bytes:
    """One parquet file's bytes (no wall-clock metadata)."""
    buf = io.BytesIO()
    pq.write_table(smt_table(block), buf, compression="snappy")
    return buf.getvalue()


def smt_slice(block: dict, lo: int, hi: int) -> dict:
    return {k: v[lo:hi] for k, v in block.items()}


# --------------------------------------------------------------- registry

_WORDS = (
    "a the data spark stream batch table row column key value hash join "
    "merge sort group agg filter scan query window order line part customer "
    "vector fast slow big small"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD", "PROMO")
_PADJ = ("large", "hot", "blue", "red", "small", "green", "cold", "dark")
_PNOUN = ("ring", "bolt", "nut", "gear", "pipe", "screw", "valve", "plate")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_US_PER_DAY = 86_400_000_000
_EPOCH_1992_US = 694_224_000_000_000
_EPOCH_2024_US = 1_704_067_200_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word documents with a bimodal near-duplicate structure: about 6% of
    documents copy an earlier one and change its last word (Jaccard of the
    3-shingle sets >= 0.9), a few copy one exactly, and unrelated documents
    share almost no shingles."""
    vocab = np.array(_WORDS)
    texts: list[str] = []
    lens = rng.integers(8, 100, size=n)
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < 0.06:
            src = texts[int(rng.integers(0, i))].split(" ")
            if kind[i] > 0.005 and len(src) >= 30:
                src[-1] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), size=lens[i])]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)]),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def registry_tables(seed: int, out_dir: str, sf: float = 0.1) -> dict[str, int]:
    """Write the ten driver tables at scale factor ``sf`` into ``out_dir``;
    returns the row count per table."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), type=pa.int32()), "r_name": list(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": [f"NATION{k:02d}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], type=pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
            "p_name": [f"{_PADJ[a]} {_PNOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(np.array(_PTYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 800.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1992_US + rng.integers(0, 3650, n_ord) * _US_PER_DAY),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(_EPOCH_1992_US + rng.integers(0, 3650, n_li) * _US_PER_DAY),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
            "ts": _ts(np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _US_PER_DAY, n_ev))),
            "user_id": pa.array(rng.integers(0, 1500, n_ev), type=pa.int64()),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": _money(rng, 0.0, 200.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_emb, 64)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), type=pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_emb), type=pa.int32()),
        }
    )
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
