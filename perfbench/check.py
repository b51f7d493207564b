"""Correctness checks: the engine's dumped outputs against the generators'
models (ingest, cdc) and against the DuckDB oracle (analytics).

Each check returns (per-op ok flags, list of whole-run errors). An op is
wrong when its own output disagrees with the model; a whole-run error
(final table, quarantine, trap, oracle) is a failure of the run.
"""
import csv
import json
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

import gen


def percentile(values, q):
    """Linear-interpolated percentile `q` (0-100) of `values`, returned
    with the sample count it rests on: (value, n)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo), len(xs)


def check_cpi(seed, result, out):
    """Ops land the files after the first `untimed_files`, which the
    set-up and an untimed warm-up op load."""
    ops = gen.cpi_ops(seed)
    untimed = result["untimed_files"]
    n_files = untimed + sum(o["ok"] for o in result["ops"])
    flags, model = [], {}
    for op in ops[:untimed]:
        gen.cpi_apply(model, op)
    for o in result["ops"]:
        i = o["file"]
        gen.cpi_apply(model, ops[i])
        if not o["ok"]:
            flags.append(False)
            continue
        y, m = ops[i]["report"]
        date = f"{y:04d}-{m:02d}"
        want = {(g, p): Decimal(v) for (d, g, p), v in model.items() if d == date}
        flags.append(read_cpi_report(Path(out) / "reports" / f"op_{i:04d}.csv") == want)
    errors = []
    want = {k: Decimal(v) for k, v in gen.cpi_model(seed, n_files).items()}
    if read_cpi_table(Path(out) / "table.tsv") != want:
        errors.append("final table differs from the model")
    names = {f["name"] for op in ops[:n_files] for f in op["files"]}
    if "cpi_poison.csv" in names and not result.get("quarantined"):
        errors.append("poison file not quarantined")
    if any(n.startswith("converted") for n in result.get("loaded", [])):
        errors.append("converted_ trap file was loaded")
    return flags, errors


def read_cpi_report(path):
    """Report CSV -> {(geo, category): avg}; None if missing or a group
    holds more than one row (every key is one row in the model)."""
    if not path.exists():
        return None
    got = {}
    with open(path, newline="") as fh:
        for r in csv.DictReader(fh):
            if r["n"] != "1":
                return None
            got[(r["geo"], r["category"])] = Decimal(r["avg_value"])
    return got


def read_cpi_table(path):
    got = {}
    for line in Path(path).read_text().splitlines():
        d, g, p, v = line.split("\t")
        if (d, g, p) in got:
            return None   # a duplicate key is never right
        got[(d, g, p)] = Decimal(v)
    return got


def check_cdc(seed, result, out):
    """Ops apply the files after the first `untimed_files`."""
    n_files = result["untimed_files"] + sum(o["ok"] for o in result["ops"])
    table, hot = gen.cdc_model(seed, n_files)
    flags = [o["ok"] and o.get("hot_rows") == hot[o["file"]]
             for o in result["ops"]]
    errors = []
    if read_cdc_table(Path(out) / "table") != table:
        errors.append("final snapshot differs from the model")
    return flags, errors


def read_cdc_table(d):
    got = {}
    for f in sorted(Path(d).glob("*.csv")):
        with open(f, newline="") as fh:
            for r in csv.DictReader(fh):
                k = (int(r["part"]), int(r["id"]))
                if k in got:
                    return None
                got[k] = (int(r["ver"]), int(r["amount"]), r["tag"])
    return got


def check_analytics(result, out, data_dir, checker):
    """Every timed op must return the rows of the untimed pass (the JVM
    compares digests), and that pass must match the DuckDB oracle,
    judged by the repo's own oracle checker."""
    oracle = json.loads((Path(out) / "q" / "oracle_sql.json").read_text())
    gates = {o["name"] for o in result["ops"]} | set(oracle)
    proc = subprocess.run([sys.executable, str(checker), str(Path(out) / "q"),
                           str(data_dir)], capture_output=True, text=True)
    status = {}
    for line in proc.stdout.splitlines():
        tok = line.split()
        if len(tok) >= 2 and tok[0] in gates:
            status[tok[0]] = tok[1]
    bad = {g for g in gates if status.get(g) != "PASS"}
    errors = [f"oracle: {g} {status.get(g, 'not checked')}" for g in sorted(bad)]
    flags = [o["ok"] and o.get("match") is True and o["name"] not in bad
             for o in result["ops"]]
    return flags, errors
