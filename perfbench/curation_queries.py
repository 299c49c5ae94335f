"""The query layer: one pass over a fixed subset of registry queries on
seeded tables shaped like the sf0.01 battery data.

It is not a workload of its own: a run has to fit next to two JVM
set-ups, and the pass takes 30-40 s. The traced run of extract_mix runs
it once, after its own probes, in the same session (see README).

The tables are generated here from the seed (same names, schemas, key
ranges and cardinalities as the battery's sf0.01 tables: TPC-H-style
star schema, an events stream, a 30-word-vocabulary documents table with
near-duplicates, unit-norm 64-d embeddings). Each value-exact query is
compared with its DuckDB twin (`oracle_sql`) through
`tests/oracle_harness.py`'s fingerprint, outside the timed region.

`triangle_parts` also runs over a fixed copy of lineitem whose keys are
narrowed to int32; its packed probe key wraps in that type, so it
disagrees with DuckDB every time and is counted in
`queries.oracle_mismatches`.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from perfbench import common as C

BATTERY = [
    # named by ROADMAP items
    "winnow_fingerprints",
    "incremental_dedup",
    "interval_join_events",
    # one per other family
    "pricing_summary",        # aggregation / scan / filter
    "broadcast_dim_join",     # joins
    "window_analytics",       # windows / top-k / set ops
    "string_funcs",           # scalar functions
    "multimodal_image_meta",  # engine/multimodal.py
]
INT32_SEED = 0  # the narrowed lineitem never depends on --seed
INT32_ORDERS = 1_500  # orders kept in it (a tenth of the table)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
ADJS = "blue cold hot large new old red small".split()


# ------------------------------------------------------------------ tables


def _tables(seed: int) -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n) * np.timedelta64(1, "D")

    def choice(vals, n):
        return [vals[k] for k in rng.integers(0, len(vals), n)]

    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    n = 1500
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": money(-999.99, 9999.99, n),
        "c_mktsegment": choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
    })
    n = 100
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": money(-999.99, 9999.99, n),
    })
    n = 2000
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), i64),
        "p_name": [f"{a} {b}" for a, b in zip(choice(ADJS, n), choice(NOUNS, n))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
        "p_type": choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": [900.0 + (k % 1000) / 10 for k in range(n)],
    })
    n = 15000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), i64),
        "o_custkey": pa.array(rng.integers(0, 1500, n), i64),
        "o_orderstatus": choice(["F", "O", "P"], n),
        "o_totalprice": money(1000, 500000, n),
        "o_orderdate": pa.array(days("1995-01-01", 2400, n), pa.timestamp("us")),
        "o_orderpriority": choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })
    n = 60000
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 15000, n), i64),
        "l_partkey": pa.array(rng.integers(0, 2000, n), i64),
        "l_suppkey": pa.array(rng.integers(0, 100, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": money(900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": choice(["A", "N", "R"], n),
        "l_linestatus": choice(["F", "O"], n),
        "l_shipdate": pa.array(days("1995-01-02", 2500, n), pa.timestamp("us")),
    })
    n = 10000
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // n, n)
    t["events"] = pa.table({
        "event_id": pa.array(range(n), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), i64),
        "event_type": choice(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(np.minimum(rng.exponential(50, n), 490) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = 500
    texts = []
    for k in range(n):
        if k > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, k))].split(" ")
            texts.append(" ".join(words[: max(8, len(words) - 2)] + ["dup"]))
        else:
            texts.append(" ".join(choice(VOCAB, int(rng.integers(8, 101)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), i64),
        "text": texts,
        "lang": [["en", "en", "en", "zh", "es", "de", "fr"][j] for j in rng.integers(0, 7, n)],
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32),
    })
    return t


def _oracle(sf_dir: str, names: list[str]) -> dict:
    """DuckDB fingerprint of each query's oracle twin over sf_dir."""
    import duckdb

    from engine.queries import TABLES, oracle_sql
    from tests.oracle_harness import _unsafe_arrow_types, frame_fingerprint

    con = duckdb.connect()
    try:
        for t in TABLES:
            if not os.path.exists(f"{sf_dir}/{t}.parquet"):
                continue
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name in names:
            tbl = con.execute(oracle_sql()[name]).fetch_arrow_table()
            if _unsafe_arrow_types(tbl.schema):
                raise TypeError(f"{name}: oracle result types do not fingerprint exactly")
            rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
            out[name] = list(frame_fingerprint(tbl.column_names, rows))
        return out
    finally:
        con.close()


def _write(tables: dict, d, names: list[str]) -> None:
    """The tables and their oracle fingerprints, published by one rename."""
    import pyarrow.parquet as pq

    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, tmp / f"{name}.parquet")
    (tmp / "oracle.json").write_text(json.dumps(_oracle(str(tmp), names)))
    tmp.rename(d)


def _load_oracle(d) -> dict:
    return {k: tuple(v) for k, v in json.loads((d / "oracle.json").read_text()).items()}


def _inputs(seed: int):
    import pyarrow as pa
    import pyarrow.compute as pc

    root = C.CACHE / "curation"
    d = root / f"seed{seed}-{len(BATTERY)}q"
    if not d.exists():
        _write(_tables(seed), d, BATTERY)
    narrow = root / f"int32-orders{INT32_ORDERS}"
    if not narrow.exists():
        t = _tables(INT32_SEED)
        li = t["lineitem"].filter(pc.less(t["lineitem"]["l_orderkey"], INT32_ORDERS))
        for col in ("l_orderkey", "l_partkey"):
            li = li.set_column(li.schema.get_field_index(col), col, li[col].cast(pa.int32()))
        _write({"lineitem": li}, narrow, ["triangle_parts"])
    return str(d), _load_oracle(d), str(narrow), _load_oracle(narrow)


# ------------------------------------------------------------------- pass


def _pass(spark, plan, tracer) -> list[tuple[str, float, bool]]:
    """Each (query, dir, oracle) once: (name, seconds, matches DuckDB)."""
    from engine.queries import queries
    from tests.oracle_harness import frame_fingerprint

    reg = queries()
    out = []
    for label, name, sf_dir, want in plan:
        with tracer.span(f"queries.{label}"):
            t0 = time.perf_counter()
            df = reg[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            wall = time.perf_counter() - t0
        out.append((label, wall, frame_fingerprint(df.columns, rows) == want))
    return out


def layers(spark, seed: int, tracer, log) -> tuple[dict, list[str]]:
    """One traced pass over the battery in the live session: the
    per-layer metrics and the errors (a value-exact query that differs
    from its DuckDB twin). The int32 `triangle_parts` case differs every
    time; it is counted in `queries.oracle_mismatches`, not as an error."""
    sf_dir, oracle, narrow_dir, narrow_oracle = _inputs(seed)
    plan = [(n, n, sf_dir, oracle[n]) for n in BATTERY] + [
        ("triangle_parts_int32", "triangle_parts", narrow_dir, narrow_oracle["triangle_parts"])
    ]
    with tracer.span("queries.battery"):
        done = _pass(spark, plan, tracer)
    log("query pass: {:.2f}s {}".format(
        sum(w for _, w, _ in done), {n: round(w, 2) for n, w, _ in done}))
    out = {f"queries.{label}_s": (w, "s") for label, w, _ in done}
    out["battery_s"] = (tracer.total("queries.battery"), "s")
    out["queries.oracle_mismatches"] = (sum(1 for _, _, ok in done if not ok), "count")
    sc = spark.sparkContext._jsc.sc()
    out["queries.cached_rdds"] = (sc.getPersistentRDDs().size(), "count")
    out["queries.cached_mb"] = (
        sum(i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo()) / 1e6, "MB")
    errs = [
        f"{label}: differs from its DuckDB twin"
        for label, _, ok in done
        if not ok and label != "triangle_parts_int32"
    ]
    return out, errs
