"""Seeded input generator: TPC-H-shaped tables, events, documents and
embeddings, plus the op list each workload runs.

Everything here is a pure function of (workload, seed): the same seed gives
byte-identical parquet files and an identical op list, a different seed a
different list. The program under test only ever sees the generated files
and the op list; it never sees the seed.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0 (TPC-H-like ratios); workloads pick a scale.
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "events": 1_000_000,
             "documents": 50_000, "embeddings": 50_000}

WORDS = ("the a data table row column key value part line order customer "
         "query scan join merge group sort window stream batch agg filter "
         "spark fast slow big small hash vector index shard commit log "
         "snapshot fragment zone bloom").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.45, 0.15, 0.13, 0.13, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_ORDERS = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_EVENTS = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _money(x):
    return np.round(x, 2)


def gen_tables(out_dir, seed, scale, event_days=30, tables=None):
    """Write the fixture tables at `scale` (0.01 = 60k lineitem rows) into
    `out_dir`/<name>.parquet. Returns {name: rows}."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    want = set(tables or ["region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem", "events", "documents",
                          "embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")
    rows = {}
    if "region" in want:
        _write(p("region"), {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
        rows["region"] = 5
    if "nation" in want:
        _write(p("nation"), {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
        rows["nation"] = 25
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    if "customer" in want:
        _write(p("customer"), {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng.uniform(-999, 9999, nc)),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
        rows["customer"] = nc
    if "supplier" in want:
        _write(p("supplier"), {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng.uniform(-999, 9999, ns))})
        rows["supplier"] = ns
    retail = _money(900 + (np.arange(np_) % 1000) * 0.1 +
                    rng.integers(0, 100, np_))
    if "part" in want:
        adj = ["small", "red", "large", "green", "shiny", "plain", "blue"]
        noun = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring"]
        _write(p("part"), {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                       zip(rng.integers(0, 7, np_), rng.integers(0, 7, np_))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE",
                                "MEDIUM"])[rng.integers(0, 5, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": retail})
        rows["part"] = np_
    odays = np.sort(rng.integers(0, 2400, no))  # keys assigned in date order
    if "orders" in want or "lineitem" in want:
        lines = rng.integers(1, 8, no)
        nl = int(lines.sum())
        okey = np.repeat(np.arange(no), lines)
        starts = np.cumsum(lines) - lines
        lnum = np.arange(nl) - np.repeat(starts, lines) + 1
        pkey = rng.integers(0, np_, nl)
        qty = rng.integers(1, 51, nl).astype(np.float64)
        eprice = _money(qty * retail[pkey])
        ship = EPOCH_ORDERS + (np.repeat(odays, lines) +
                               rng.integers(1, 122, nl)) * DAY_US
        status = np.where(ship > np.datetime64("2000-06-01", "us"), "O", "F")
        if "lineitem" in want:
            _write(p("lineitem"), {
                "l_orderkey": pa.array(okey, pa.int64()),
                "l_partkey": pa.array(pkey, pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(lnum, pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": eprice,
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
                "l_linestatus": status,
                "l_shipdate": pa.array(ship, pa.timestamp("us"))})
            rows["lineitem"] = nl
        if "orders" in want:
            tot = np.bincount(okey, weights=eprice, minlength=no)
            _write(p("orders"), {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
                "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
                "o_totalprice": _money(tot),
                "o_orderdate": pa.array(EPOCH_ORDERS + odays * DAY_US,
                                        pa.timestamp("us")),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
            rows["orders"] = no
    if "events" in want:
        ne = n["events"]
        ts = np.sort(rng.integers(0, event_days * DAY_US, ne))
        _write(p("events"), {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(EPOCH_EVENTS + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(2, ne // 66), ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": _money(rng.uniform(0, 20, ne)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
        rows["events"] = ne
    if "documents" in want:
        nd = n["documents"]
        texts = []
        for i in range(nd):
            if i > 10 and rng.random() < 0.12:  # near or exact duplicate
                w = texts[int(rng.integers(0, i))].split()
                for _ in range(int(rng.integers(0, 3))):
                    w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
                texts.append(" ".join(w))
            else:
                k = int(rng.integers(20, 80))
                texts.append(" ".join(np.array(WORDS)[rng.zipf(1.6, k) % len(WORDS)]))
        _write(p("documents"), {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
        rows["documents"] = nd
    if "embeddings" in want:
        nv, dim = n["embeddings"], 64
        label = rng.integers(0, 10, nv)
        cent = rng.normal(0, 1, (10, dim))
        vec = (cent[label] + rng.normal(0, 0.6, (nv, dim))).astype(np.float32)
        _write(p("embeddings"), {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32())})
        rows["embeddings"] = nv
    return rows


def digest_dir(d):
    """sha256 over every file under `d`, in name order."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _li_rows(rng, n, okey0, day_lo, day_hi):
    """`n` fresh lineitem rows: order keys from `okey0`, ship days in
    [day_lo, day_hi) after EPOCH_ORDERS."""
    okey = okey0 + np.arange(n) // 3
    return {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 50, n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) % 3 + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng.uniform(900, 90000, n)),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(EPOCH_ORDERS + rng.integers(day_lo, day_hi, n) * DAY_US,
                               pa.timestamp("us"))}


def _ts(day):
    return (dt.datetime(1995, 1, 1) + dt.timedelta(days=int(day))).strftime(
        "TIMESTAMP '%Y-%m-%d %H:%M:%S'")


# warehouse_dml ------------------------------------------------------------

DML_SCALE = 0.01
DML_COHORTS = 4
DML_SHIP_DAYS = 2400 + 122


def dml_inputs(out_dir, seed):
    """Landing inputs, per-op source files and the op list of one pass,
    plus the inputs of the daily-pipeline stage that opens each pass."""
    rows = gen_tables(out_dir, seed, DML_SCALE, tables=["lineitem"])
    rng = np.random.default_rng([seed, 2])
    nkeys = int(BASE_ROWS["orders"] * DML_SCALE)
    src = os.path.join(out_dir, "src")
    os.makedirs(src, exist_ok=True)
    fresh = [nkeys]

    def new_keys(n):
        fresh[0] += n
        return fresh[0] - n

    def put(name, cols):
        _write(os.path.join(src, name), cols)
        return name

    bounds = np.linspace(0, DML_SHIP_DAYS, DML_COHORTS + 1).astype(int)
    cohorts = [[_ts(bounds[i]), _ts(bounds[i + 1])] for i in range(DML_COHORTS)]
    # A day of row-level changes in a fixed order, with a read and a point
    # probe after every write; the seed draws every key, date and value. The
    # op shapes stay fixed so that two seeds cost the same and a run's
    # figures compare across seeds: the closing restore always undoes the
    # compaction, so the changes_between that spans it covers the same
    # writes on every seed.
    ops, writes = [], [-1]   # symbolic versions: -1 = as landed, k = after op k
    for i, kind in enumerate(DML_WRITES):
        ops.append(_dml_write(rng, kind, len(ops), writes, put, new_keys, nkeys))
        writes.append(len(ops) - 1)
        ops.append(_dml_read(rng, DML_READS[i], writes, nkeys, ops))
        ops.append(_dml_read(rng, "read_where_point", writes, nkeys, ops))
    return {"cohorts": cohorts, "ops": ops, "rows": rows,
            "pipeline": pipeline_inputs(os.path.join(out_dir, "pipe"), seed)}


DML_WRITES = ["append", "merge_into", "update_where", "delete_where", "merge_into_mor",
              "delete_where_mor", "merge_apply", "replace_where", "compact", "restore"]
# one after each write (a point probe follows it), mostly lookups;
# changes_between tails the feed from where its previous read stopped
DML_READS = ["read_where_point", "read_where_range", "read_where_point", "changes_between",
             "read_where_point", "read_where_range", "read_version", "read_where_point",
             "read_where_range", "changes_between"]


def _dml_write(rng, kind, i, writes, put, new_keys, nkeys):
    d = int(rng.integers(0, DML_SHIP_DAYS - 40))
    op = {"op": kind, "write": True}
    if kind == "append":
        op["file"] = put(f"append_{i}.parquet", _li_rows(rng, 60, new_keys(20), d, d + 5))
    elif kind in ("merge_into", "merge_into_mor", "merge_apply"):
        # late changes to recent orders (some deleted by then: those
        # insert) plus new orders, as a change-data feed delivers them
        lo = int(rng.integers(nkeys - 3000, nkeys - 600))
        cols = _li_rows(rng, 60, 0, d, d + 30)
        ok = np.concatenate([lo + rng.choice(600, 40, replace=False),
                             new_keys(20) + np.arange(20)])
        cols["l_orderkey"] = pa.array(ok, pa.int64())
        cols["l_linenumber"] = pa.array(np.ones(60, np.int32))
        op["file"] = put(f"{kind}_{i}.parquet", cols)
    elif kind in ("delete_where", "delete_where_mor"):
        lo = int(rng.integers(0, nkeys - 40))
        op["pred"] = f"l_orderkey BETWEEN {lo} AND {lo + 30} AND l_returnflag = 'R'"
    elif kind == "update_where":
        op["sets"] = [["l_quantity", "l_quantity + 1"], ["l_discount", "0.0"]]
        op["pred"] = f"l_shipdate >= {_ts(d)} AND l_shipdate < {_ts(d + 2)}"
    elif kind == "replace_where":
        op["file"] = put(f"replace_{i}.parquet", _li_rows(rng, 50, new_keys(17), d, d + 1))
        op["pred"] = f"l_shipdate >= {_ts(d)} AND l_shipdate < {_ts(d + 1)}"
    elif kind == "restore":
        op["version"] = writes[-2]   # the version the compaction replaced
    return op


def _dml_read(rng, kind, writes, nkeys, ops):
    d = int(rng.integers(0, DML_SHIP_DAYS - 40))
    op = {"op": kind, "write": False}
    if kind == "read_where_point":
        op["pred"] = f"l_orderkey = {int(rng.integers(0, nkeys))}"
    elif kind == "read_where_range":
        op["pred"] = f"l_shipdate >= {_ts(d)} AND l_shipdate < {_ts(d + 30)}"
    elif kind == "read_version":
        op["version"] = writes[-4]
    else:
        tails = [o["to"] for o in ops if o["op"] == "changes_between"]
        op["from"] = tails[-1] if tails else -1
        op["to"] = writes[-1]
    return op


# the daily-pipeline stage of warehouse_dml ------------------------------------

PIPE_SCALE = 0.002
PIPE_DAYS = 3             # the daily build covers the last day, backfill the rest
PIPE_BATCHES = 2
PIPE_EPOCH = dt.date(2024, 1, 1)
FAMILIES = {
    "orders": {"stg": "stg_orders", "dims": ["o_orderstatus", "o_orderpriority"],
               "measures": ["o_totalprice"],
               "filters": ["o_orderstatus = 'F'", "o_totalprice > 100000",
                           "o_orderpriority IN ('1-URGENT', '2-HIGH')"]},
    "events": {"stg": "stg_events", "dims": ["event_type"], "measures": ["n", "total_cents"],
               "filters": ["event_type IN ('click', 'view')", "n > 1"]},
}
STG = {
    "stg_orders": ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority, "
                   "CAST(o_orderdate AS DATE) AS partitiondate FROM {{ source('tpch', 'orders') }}"),
    "stg_events": ("SELECT hour, event_type, n, total_cents, CAST(hour AS DATE) AS partitiondate "
                   "FROM {{ source('raw', 'events_hourly') }}"),
}


def _day(i):
    return (PIPE_EPOCH + dt.timedelta(days=i)).isoformat()


def pipeline_inputs(out_dir, seed):
    """Sources, streaming micro-batches, a generated manifest and the
    catalog reads: drain batches, build the DAG, backfill, then read."""
    rows = gen_tables(out_dir, seed, PIPE_SCALE, event_days=PIPE_DAYS,
                      tables=["customer", "orders", "events"])
    rng = np.random.default_rng([seed, 3])
    _shift_to_pipeline_days(out_dir, rng)
    batches = _event_batches(out_dir)
    models = []   # [name, materialized, tags, sql]
    for name, sql in STG.items():
        models.append([name, "view", ["daily"], sql])
    fams = list(FAMILIES)
    inc_dim = {f: FAMILIES[f]["dims"][int(rng.integers(0, len(FAMILIES[f]["dims"])))]
               for f in fams}
    parents = {f: [FAMILIES[f]["stg"]] for f in fams}
    for i, f in enumerate(fams):
        flt = FAMILIES[f]["filters"][int(rng.integers(0, len(FAMILIES[f]["filters"])))]
        name = f"eph_{f}_{i}"
        models.append([name, "ephemeral", ["daily"],
                       f"SELECT * FROM {{{{ ref('{FAMILIES[f]['stg']}') }}}} WHERE {flt}"])
        parents[f].append(name)
    tables = []
    for i, f in enumerate(fams):
        dim = inc_dim[f]
        meas = FAMILIES[f]["measures"][int(rng.integers(0, len(FAMILIES[f]["measures"])))]
        par = parents[f][int(rng.integers(0, len(parents[f])))]
        name = f"tbl_{f}_{i}"
        models.append([name, "table", [],
                       f"SELECT {dim}, count(*) AS n, round(sum({meas}), 2) AS total "
                       f"FROM {{{{ ref('{par}') }}}} GROUP BY {dim}"])
        tables.append((name, f, dim))
    incs = []
    for f in fams:
        meas = FAMILIES[f]["measures"][int(rng.integers(0, len(FAMILIES[f]["measures"])))]
        par = parents[f][int(rng.integers(0, len(parents[f])))]
        name = f"inc_{f}_daily"
        models.append([name, "incremental", ["daily"],
                       f"SELECT partitiondate, {inc_dim[f]}, count(*) AS n, "
                       f"round(sum({meas}), 2) AS total FROM {{{{ ref('{par}') }}}} "
                       f"WHERE partitiondate >= DATE '{{{{ var('start') }}}}' "
                       f"AND partitiondate < DATE '{{{{ var('end') }}}}' "
                       f"GROUP BY partitiondate, {inc_dim[f]}"])
        incs.append((name, f))
    order = [int(x) for x in rng.permutation(len(models))]
    models = [models[i] for i in order]   # manifest order is seeded; the DAG fixes the build order
    reads = _pipeline_reads(rng, incs, tables, inc_dim)
    return {"rows": rows, "batches": batches, "models": models,
            "build_day": [_day(PIPE_DAYS - 1), _day(PIPE_DAYS)],
            "backfill": [[_day(d), _day(d + 1)] for d in range(PIPE_DAYS - 1)],
            "scd2_changes": "customer_changes.parquet", "reads": reads}


def _shift_to_pipeline_days(out_dir, rng):
    """Put order dates inside the pipeline's day window, and
    write the customer change snapshot the scd2 model merges."""
    p = os.path.join(out_dir, "orders.parquet")
    tb = pq.read_table(p)
    days = rng.integers(0, PIPE_DAYS, tb.num_rows)
    v = np.datetime64(PIPE_EPOCH.isoformat(), "us") + days * DAY_US
    tb = tb.set_column(tb.schema.get_field_index("o_orderdate"), "o_orderdate",
                       pa.array(v, pa.timestamp("us")))
    pq.write_table(tb, p, compression="snappy")
    cust = pq.read_table(os.path.join(out_dir, "customer.parquet"))
    n = cust.num_rows
    pick = np.sort(rng.choice(n, max(2, n // 7), replace=False))
    changed = pick[: len(pick) * 2 // 3]
    sub = cust.take(pa.array(pick))
    bal = sub.column("c_acctbal").to_numpy().copy()
    bal[: len(changed)] = _money(bal[: len(changed)] + 100.0)
    sub = sub.set_column(sub.schema.get_field_index("c_acctbal"), "c_acctbal", pa.array(bal))
    _write(os.path.join(out_dir, "customer_changes.parquet"),
           {c: sub.column(c) for c in sub.column_names})


def _event_batches(out_dir):
    """Micro-batches as an update-mode hourly aggregation emits them: for
    each chunk of arrivals, the running totals of the hours it touched."""
    ev = pq.read_table(os.path.join(out_dir, "events.parquet"))
    ts = ev.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    hour = ts // 3_600_000_000
    etype = np.array(ev.column("event_type").to_pylist())
    t_idx = np.searchsorted(EVENT_TYPES_SORTED, etype)
    cents = np.rint(ev.column("value").to_numpy() * 100).astype(np.int64)
    key = hour * len(EVENT_TYPES_SORTED) + t_idx
    names = []
    ends = np.linspace(0, len(ts), PIPE_BATCHES + 1).astype(int)[1:]
    start = 0
    for b, end in enumerate(ends):
        touched = np.unique(key[start:end])
        seen = key[:end]
        mask = np.isin(seen, touched)
        k, inv = np.unique(seen[mask], return_inverse=True)
        cnt = np.bincount(inv).astype(np.int64)
        tot = np.bincount(inv, weights=cents[:end][mask]).astype(np.int64)
        name = f"batch_{b}.parquet"
        _write(os.path.join(out_dir, name), {
            "hour": pa.array((k // len(EVENT_TYPES_SORTED)) * 3_600_000_000, pa.timestamp("us")),
            "event_type": np.array(EVENT_TYPES_SORTED)[k % len(EVENT_TYPES_SORTED)],
            "n": pa.array(cnt, pa.int64()), "total_cents": pa.array(tot, pa.int64())})
        names.append([name, int(end - start)])
        start = end
    return names


EVENT_TYPES_SORTED = sorted(EVENT_TYPES)


def _pipeline_reads(rng, incs, tables, inc_dim):
    """Catalog reads: a partition filter, a join, time travel, the raw and
    the scd2 table. `sql` names tables under catalog `{cat}`."""
    reads = []

    def add(kind, sql):
        reads.append({"kind": kind, "sql": sql})

    for _ in range(1):
        name, f = incs[int(rng.integers(0, len(incs)))]
        a = int(rng.integers(0, PIPE_DAYS - 1))
        b = int(rng.integers(a, PIPE_DAYS))
        add("partition", f"SELECT count(*), coalesce(sum(n), 0), round(coalesce(sum(total), 0), 2) "
                         f"FROM {{cat}}.mart.{name} WHERE partitiondate BETWEEN DATE '{_day(a)}' "
                         f"AND DATE '{_day(b)}'")
    for _ in range(1):
        name, f = incs[int(rng.integers(0, len(incs)))]
        add("time_travel", f"SELECT count(*), coalesce(sum(n), 0), round(coalesce(sum(total), 0), 2) "
                           f"FROM {{cat}}.mart.{name} FOR SYSTEM_VERSION AS OF 1")
    for _ in range(1):
        i = int(rng.integers(0, len(incs)))
        (inc, f), (tbl, _, dim) = incs[i], tables[i]
        add("join", f"SELECT count(*), coalesce(sum(a.n * b.n), 0) FROM {{cat}}.mart.{inc} a "
                    f"JOIN {{cat}}.mart.{tbl} b ON a.{dim} = b.{dim} "
                    f"WHERE a.partitiondate >= DATE '{_day(int(rng.integers(0, PIPE_DAYS)))}'")
    for _ in range(1):
        a = int(rng.integers(0, PIPE_DAYS * 24 - 24))
        lo = f"TIMESTAMP '{_day(a // 24)} {a % 24:02d}:00:00'"
        add("raw", f"SELECT count(*), coalesce(sum(n), 0), coalesce(sum(total_cents), 0) "
                   f"FROM {{cat}}.raw.events_hourly WHERE hour >= {lo} "
                   f"AND hour < {lo} + INTERVAL 12 HOURS")
    add("scd2", "SELECT count(*), sum(CASE WHEN is_current THEN 1 ELSE 0 END) "
                "FROM {cat}.mart.customer_scd2")
    return [reads[i] for i in rng.permutation(len(reads))]


# analytic_suite -------------------------------------------------------------

ANALYTIC_SCALE = 0.005
# (query, family): one consumer of each staged-artifact family that fits
# the run budget (Dedup pipeline reps and BasketGraph do not: their cold
# builds alone take 3-6 s), then pure-compute operators: windows, a
# sketch, quantiles, an as-of join, sessions and a top-k
ANALYTIC_QUERIES = [
    ("dedup_ngram", "llmops"), ("dedup_simhash", "llmops"), ("dedup_typos", "llmops"),
    ("lm_fluency", "llmops"), ("graph_pagerank", "operators"),
    ("graph_label_prop", "operators"), ("graph_triangles", "operators"),
    ("ewma_smooth", "operators"), ("q30_rolling", "operators"),
    ("q24_kmv_sketch", "operators"), ("q26_quantiles", "operators"),
    ("q22_asof_join", "operators"), ("q33_sessions", "operators"),
    ("topk_sources", "llmops"),
]


def analytic_inputs(out_dir, seed):
    rows = gen_tables(out_dir, seed, ANALYTIC_SCALE)
    rng = np.random.default_rng([seed, 4])
    order = [ANALYTIC_QUERIES[i] for i in rng.permutation(len(ANALYTIC_QUERIES))]
    return {"rows": rows,
            "ops": [{"op": q, "family": f, "write": False} for q, f in order]}
