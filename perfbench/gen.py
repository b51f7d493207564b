"""Seeded input generators, each paired with the in-memory model the
correctness checks compare the engine's output against.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (the benchmark's own tests pin this). The engine
only ever sees the files; the models never leave this process.
"""
import csv
import json
import math
import os
import random
from datetime import datetime, timedelta
from pathlib import Path

# ── cpi_ingest ──────────────────────────────────────────────────────────

CPI_COLUMNS = ["Date", "GEO", "DGUID", "Products", "UOM", "UOM_ID",
               "SCALAR_FACTOR", "SCALAR_ID", "VECTOR", "COORDINATE", "VALUE",
               "STATUS", "SYMBOL", "TERMINATED", "DECIMALS"]
GEOS = ["Canada", "Newfoundland and Labrador", "Prince Edward Island",
        "Nova Scotia", "New Brunswick", "Quebec", "Ontario", "Manitoba",
        "Saskatchewan", "Alberta", "British Columbia", "Yukon"]
PRODUCTS = ["All-items", "Food", "Shelter", "Household operations",
            "Clothing and footwear", "Transportation", "Gasoline",
            "Health and personal care", "Recreation", "Education",
            "Alcoholic beverages", "Tobacco products", "Energy",
            "Services", "Goods", "Rent"]
CPI_FILES = 60           # more than any run can land; a run uses a prefix
CPI_POISON_OP = 2        # op index whose file is the poison file
CPI_TRAP_OP = 3          # op index whose landing also drops the trap
CPI_MTIME0_MS = 1_600_000_000_000
CPI_RESTATED_GEOS = 3
CPI_MAX_CORRUPT = 5      # the pipeline's default tolerance


def _cpi_month(i):
    y, m = divmod(i, 12)
    return 2000 + y, m + 1


def _cpi_row(date, geo, product, value):
    gi, pi = GEOS.index(geo), PRODUCTS.index(product)
    return [date, geo, f"2016A0001{gi:02d}", product, "2002=100", "17",
            "units", "0", f"v{41690000 + gi * 100 + pi}", f"{gi + 1}.{pi + 1}",
            value, "", "", "", "1"]


def cpi_ops(seed):
    """The landing plan: one entry per op, in landing order. Each entry
    names the files the op lands, the month the op's report covers and
    the data rows each file carries (the model's input)."""
    rnd = random.Random(f"cpi:{seed}")
    ops, month = [], 0
    for i in range(CPI_FILES):
        if i == CPI_POISON_OP:
            # 9 malformed rows > the 5-row tolerance: fails every attempt
            ops.append({"files": [{"name": "cpi_poison.csv", "rows": [],
                                   "corrupt": 9}],
                        "report": _cpi_month(month - 1)})
            continue
        y, m = _cpi_month(month)
        date = f"{y:04d}-{m:02d}"
        rows = [_cpi_row(date, g, p, f"{rnd.uniform(90, 180):.1f}")
                for g in GEOS for p in PRODUCTS]
        if month > 0:
            for g in rnd.sample(GEOS, CPI_RESTATED_GEOS):
                py, pm = _cpi_month(rnd.randrange(month))
                rows += [_cpi_row(f"{py:04d}-{pm:02d}", g, p,
                                  f"{rnd.uniform(90, 180):.1f}")
                         for p in PRODUCTS]
        corrupt = rnd.randint(1, CPI_MAX_CORRUPT) if rnd.random() < 0.3 else 0
        files = [{"name": f"cpi_{i:04d}.csv", "rows": rows,
                  "corrupt": corrupt}]
        if i == CPI_TRAP_OP:
            # a derived file the watch must never load (its GEO is unique)
            trap = _cpi_row(date, "Canada", "Food", "1.0")
            trap[1] = "TRAP"
            files.insert(0, {"name": "converted_cpi_trap.csv", "rows": [trap],
                             "corrupt": 0})
        ops.append({"files": files, "report": (y, m)})
        month += 1
    mtime = CPI_MTIME0_MS
    for op in ops:
        for f in op["files"]:
            # `_seq` is the file's mtime: strictly increasing mtimes make
            # last-version-wins deterministic
            mtime += 60_000
            f["mtime_ms"] = mtime
    return ops


def write_cpi(seed, out):
    """Write every op's files under `out/<op>/` and the plan `Main` lands
    them by (`out/plan.json`)."""
    ops = cpi_ops(seed)
    rnd = random.Random(f"cpi-corrupt:{seed}")
    plan = []
    for i, op in enumerate(ops):
        d = Path(out) / f"{i:04d}"
        d.mkdir(parents=True, exist_ok=True)
        for f in op["files"]:
            lines = [",".join(CPI_COLUMNS)]
            lines += [",".join(r) for r in f["rows"]]
            for _ in range(f["corrupt"]):
                lines.insert(rnd.randrange(1, len(lines) + 1), "garbage,row")
            p = d / f["name"]
            p.write_text("\n".join(lines) + "\n")
            os.utime(p, ns=(f["mtime_ms"] * 1_000_000,) * 2)
        plan.append({"dir": d.name, "files": [f["name"] for f in op["files"]],
                     "year": op["report"][0], "month": op["report"][1]})
    (Path(out) / "plan.json").write_text(json.dumps(plan))


def cpi_apply(table, op):
    """Fold one op's files into the model table, (date, geo, product) ->
    VALUE string. The poison file carries no rows; the trap is never
    loaded."""
    for f in op["files"]:
        if not f["name"].startswith("converted"):
            for r in f["rows"]:
                table[(r[0], r[1], r[3])] = r[10]


def cpi_model(seed, n_ops):
    """Expected permanent table after the first `n_ops` ops."""
    table = {}
    for op in cpi_ops(seed)[:n_ops]:
        cpi_apply(table, op)
    return table


# ── cdc_apply ───────────────────────────────────────────────────────────

CDC_PARTS = 64
CDC_BASE_ROWS = 200_000
CDC_EVENTS = 2_000
CDC_FILES = 60
CDC_HOT = CDC_PARTS - 1          # the most recent partition


def _cdc_part(rnd):
    # skewed to recent partitions: the newest gets a quarter of the events
    # and each older one 3/4 of the next newer's share (corrections thin
    # out with age), so a batch touches about a dozen partitions
    age = int(math.log(1.0 - rnd.random()) / math.log(0.75))
    return CDC_PARTS - 1 - min(age, CDC_PARTS - 1)


def cdc_files(seed):
    """Base rows, then one event list per change file. An event is
    (part, id, ver, op, amount, tag); versions rise strictly across the
    whole stream, so the newest event for a key always wins."""
    rnd = random.Random(f"cdc:{seed}")
    base = [(i % CDC_PARTS, i, 0, "upsert", rnd.randrange(1_000_000),
             f"t{rnd.randrange(100)}") for i in range(CDC_BASE_ROWS)]
    # key = block * CDC_PARTS + part, so every key stays in its partition
    blocks = [CDC_BASE_ROWS // CDC_PARTS] * CDC_PARTS
    ver, files = 0, []
    for _ in range(CDC_FILES):
        events = []
        for _ in range(CDC_EVENTS):
            ver += 1
            part = _cdc_part(rnd)
            r = rnd.random()
            if r < 0.15:   # insert a new key
                key = blocks[part] * CDC_PARTS + part
                blocks[part] += 1
            else:          # touch an existing (or deleted) key
                key = rnd.randrange(blocks[part]) * CDC_PARTS + part
            if r >= 0.9:
                events.append((part, key, ver, "delete", None, None))
            else:
                events.append((part, key, ver, "upsert",
                               rnd.randrange(1_000_000), f"t{rnd.randrange(100)}"))
        files.append(events)
    return base, files


def _cdc_csv(path, rows):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(["part", "id", "ver", "op", "amount", "tag"])
        w.writerows(("" if v is None else v for v in r) for r in rows)


def write_cdc(seed, out):
    base, files = cdc_files(seed)
    out = Path(out)
    (out / "base").mkdir(parents=True, exist_ok=True)
    _cdc_csv(out / "base" / "base.csv", base)
    for i, events in enumerate(files):
        d = out / f"{i:04d}"
        d.mkdir(exist_ok=True)
        _cdc_csv(d / f"changes_{i:04d}.csv", events)


def cdc_model(seed, n_files):
    """Expected snapshot after the first `n_files` change files, plus the
    hot partition's row count after each of them."""
    base, files = cdc_files(seed)
    table = {(p, k): (v, a, t) for p, k, v, _, a, t in base}
    n_hot = sum(1 for p, _ in table if p == CDC_HOT)
    hot = []
    for events in files[:n_files]:
        for p, k, v, op, a, t in events:
            present = (p, k) in table
            if op == "delete":
                table.pop((p, k), None)
                n_hot -= present and p == CDC_HOT
            else:
                table[(p, k)] = (v, a, t)
                n_hot += (not present) and p == CDC_HOT
        hot.append(n_hot)
    return table, hot


# ── analytics_mix ───────────────────────────────────────────────────────

# Tables at 0.6x the shape of TPC-H sf0.01 (9,000 orders, ~36k line
# items): big enough that MarketBasket and dedup do real work,
# small enough that a cold pass over the mix stays near 20 s.
ANALYTICS_SCALE = 0.6
NOUNS = ["ring", "widget", "bolt", "gear", "spring", "valve", "panel", "cable"]
COLORS = ["small", "red", "blue", "green", "large", "steel", "black", "white"]
WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
         "a the line sort window data column join small customer query big "
         "order group filter stream vector").split()


def _ts(d):
    return d.strftime("%Y-%m-%d %H:%M:%S.%f")


def analytics_tables(seed):
    """TPC-H-shaped tables plus events and documents, in the column
    types the engine's gates read: table name -> (arrow schema spec,
    rows)."""
    rnd = random.Random(f"analytics:{seed}")
    k = ANALYTICS_SCALE
    n_cust, n_supp, n_part = int(1500 * k), int(100 * k), int(2000 * k)
    n_ord, n_ev, n_doc = int(15000 * k), int(10000 * k), int(500 * k)
    t = {}
    t["region"] = [(i, n) for i, n in enumerate(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])]
    t["nation"] = [(i, f"NATION_{i}", i % 5) for i in range(25)]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = [(i, f"Customer#{i:09d}", rnd.randrange(25),
                      round(rnd.uniform(-999, 9999), 2), rnd.choice(segs))
                     for i in range(n_cust)]
    t["supplier"] = [(i, f"Supplier#{i:09d}", rnd.randrange(25),
                      round(rnd.uniform(-999, 9999), 2)) for i in range(n_supp)]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    t["part"] = [(i, f"{rnd.choice(COLORS)} {rnd.choice(NOUNS)}",
                  f"Brand#{rnd.randrange(1, 26)}", rnd.choice(types),
                  rnd.randrange(1, 51), round(900 + i * 0.1, 2))
                 for i in range(n_part)]
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    d0 = datetime(1995, 1, 1)
    orders, items = [], []
    for o in range(n_ord):
        odate = d0 + timedelta(days=rnd.randrange(2400))
        total = 0.0
        lines = []
        for ln in range(1, rnd.randint(1, 7) + 1):
            qty = float(rnd.randint(1, 50))
            price = round(qty * rnd.uniform(900, 2000), 2)
            total += price
            ship = odate + timedelta(days=rnd.randint(1, 120))
            rflag = rnd.choice("ANR")
            lines.append((o, rnd.randrange(n_part), rnd.randrange(n_supp), ln,
                          qty, price, rnd.randrange(11) / 100,
                          rnd.randrange(9) / 100, rflag,
                          "F" if ship < datetime(1999, 6, 17) else "O", ship))
        items += lines
        status = ("F" if all(li[9] == "F" for li in lines) else
                  "O" if all(li[9] == "O" for li in lines) else "P")
        orders.append((o, rnd.randrange(n_cust), status, round(total, 2),
                       odate, rnd.choice(prio)))
    rnd.shuffle(items)
    t["orders"] = orders
    t["lineitem"] = items
    e0 = datetime(2024, 1, 1)
    ev_types = ["view", "click", "purchase", "signup", "error"]
    ts = e0
    t["events"] = []
    for i in range(n_ev):
        ts = ts + timedelta(microseconds=rnd.randrange(1, 500_000_000))
        t["events"].append((i, ts, rnd.randrange(150),
                            rnd.choices(ev_types, [5, 3, 1, 1, 1])[0],
                            round(rnd.uniform(0, 20), 2),
                            json.dumps({"k": rnd.randrange(100)})))
    docs = []
    for i in range(n_doc):
        if docs and rnd.random() < 0.2:
            # near-duplicate of an earlier document: one word swapped
            w = rnd.choice(docs)[1].split(" ")
            w[rnd.randrange(len(w))] = rnd.choice(WORDS)
            text = " ".join(w)
        else:
            text = " ".join(rnd.choice(WORDS)
                            for _ in range(rnd.randint(20, 80)))
        docs.append((i, text, rnd.choice(["en", "de", "es", "fr", "zh"]),
                     f"src{rnd.randrange(20)}", len(text)))
    t["documents"] = docs
    return t


ANALYTICS_SCHEMA = {
    "region": [("r_regionkey", "int32"), ("r_name", "string")],
    "nation": [("n_nationkey", "int32"), ("n_name", "string"),
               ("n_regionkey", "int32")],
    "customer": [("c_custkey", "int64"), ("c_name", "string"),
                 ("c_nationkey", "int32"), ("c_acctbal", "float64"),
                 ("c_mktsegment", "string")],
    "supplier": [("s_suppkey", "int64"), ("s_name", "string"),
                 ("s_nationkey", "int32"), ("s_acctbal", "float64")],
    "part": [("p_partkey", "int64"), ("p_name", "string"),
             ("p_brand", "string"), ("p_type", "string"),
             ("p_size", "int32"), ("p_retailprice", "float64")],
    "orders": [("o_orderkey", "int64"), ("o_custkey", "int64"),
               ("o_orderstatus", "string"), ("o_totalprice", "float64"),
               ("o_orderdate", "timestamp"), ("o_orderpriority", "string")],
    "lineitem": [("l_orderkey", "int64"), ("l_partkey", "int64"),
                 ("l_suppkey", "int64"), ("l_linenumber", "int32"),
                 ("l_quantity", "float64"), ("l_extendedprice", "float64"),
                 ("l_discount", "float64"), ("l_tax", "float64"),
                 ("l_returnflag", "string"), ("l_linestatus", "string"),
                 ("l_shipdate", "timestamp")],
    "events": [("event_id", "int64"), ("ts", "timestamp"),
               ("user_id", "int64"), ("event_type", "string"),
               ("value", "float64"), ("props", "string")],
    "documents": [("doc_id", "int64"), ("text", "string"), ("lang", "string"),
                  ("source", "string"), ("n_chars", "int64")],
}


def write_analytics(seed, out):
    import pyarrow as pa
    import pyarrow.parquet as pq
    types = {"int32": pa.int32(), "int64": pa.int64(), "string": pa.string(),
             "float64": pa.float64(), "timestamp": pa.timestamp("us")}
    Path(out).mkdir(parents=True, exist_ok=True)
    for name, rows in analytics_tables(seed).items():
        cols = ANALYTICS_SCHEMA[name]
        arrays = [pa.array([r[i] for r in rows], type=types[ty])
                  for i, (_, ty) in enumerate(cols)]
        table = pa.Table.from_arrays(arrays, names=[c for c, _ in cols])
        pq.write_table(table, Path(out) / f"{name}.parquet")
