"""The benchmark's own tests: seeded inputs are reproducible, every
correctness check rejects a corrupted output, and the percentile helper
reports the samples it rests on.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import hashlib
import json
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import check  # noqa: E402
import gen    # noqa: E402

CHECKER = HERE.parent / "tools" / "check_correctness.py"


def tree_digest(root, with_mtime=False):
    h = hashlib.sha256()
    for p in sorted(Path(root).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
            if with_mtime and p.suffix == ".csv":  # `_seq` is the mtime
                h.update(str(p.stat().st_mtime_ns).encode())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for write, mt in ((gen.write_cpi, True), (gen.write_cdc, False),
                          (gen.write_analytics, False)):
            with tempfile.TemporaryDirectory() as a, \
                    tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                write(7, a)
                write(7, b)
                write(8, c)
                self.assertEqual(tree_digest(a, mt), tree_digest(b, mt), write.__name__)
                self.assertNotEqual(tree_digest(a), tree_digest(c), write.__name__)

    def test_cpi_mtimes_strictly_increase(self):
        stamps = [f["mtime_ms"] for op in gen.cpi_ops(3) for f in op["files"]]
        self.assertEqual(stamps, sorted(set(stamps)))


class Percentile(unittest.TestCase):
    def test_reports_sample_count(self):
        self.assertEqual(check.percentile([3, 1, 2], 50), (2, 3))
        self.assertEqual(check.percentile([1, 2, 3, 4], 75), (3.25, 4))
        with self.assertRaises(ValueError):
            check.percentile([], 50)


def fake_cpi_output(seed, n, out):
    """What a correct engine run of `n` ingest ops dumps."""
    ops = gen.cpi_ops(seed)
    (out / "reports").mkdir(parents=True)
    model = {}
    for i in range(n):
        gen.cpi_apply(model, ops[i])
        y, m = ops[i]["report"]
        with open(out / "reports" / f"op_{i:04d}.csv", "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["y", "m", "geo", "category", "avg_value", "n"])
            for (d, g, p), v in model.items():
                if d == f"{y:04d}-{m:02d}":
                    w.writerow([y, m, g, p, v + "0000000", 1])
    (out / "table.tsv").write_text("".join(
        f"{d}\t{g}\t{p}\t{v}000\n" for (d, g, p), v in model.items()))
    names = [f["name"] for op in ops[:n] for f in op["files"]
             if not f["name"].startswith("converted") and f["rows"]]
    return {"untimed_files": 2,
            "ops": [{"idx": i - 2, "file": i, "ok": True} for i in range(2, n)],
            "quarantined": True, "loaded": names}


class CorruptedOutputsFail(unittest.TestCase):
    def test_cpi(self):
        with tempfile.TemporaryDirectory() as d:
            out = Path(d)
            result = fake_cpi_output(5, 6, out)
            flags, errors = check.check_cpi(5, result, out)
            self.assertEqual((all(flags), errors), (True, []))

            rep = out / "reports" / "op_0004.csv"
            good = rep.read_text()
            rep.write_text(good.replace(".", "9.", 1))  # one value off
            self.assertFalse(check.check_cpi(5, result, out)[0][2])
            rep.write_text(good)

            table = out / "table.tsv"
            good = table.read_text()
            table.write_text(good.splitlines()[0].rsplit("\t", 1)[0] + "\t0.5\n"
                             + "\n".join(good.splitlines()[1:]) + "\n")
            self.assertIn("final table differs from the model",
                          check.check_cpi(5, result, out)[1])
            table.write_text(good)

            for key, bad, msg in (("quarantined", False, "poison file not quarantined"),
                                  ("loaded", ["converted_cpi_trap.csv"],
                                   "converted_ trap file was loaded")):
                errors = check.check_cpi(5, dict(result, **{key: bad}), out)[1]
                self.assertIn(msg, errors)

    def test_cdc(self):
        with tempfile.TemporaryDirectory() as d:
            out = Path(d)
            table, hot = gen.cdc_model(4, 3)
            (out / "table").mkdir()
            rows = sorted(table.items())
            with open(out / "table" / "part-0.csv", "w", newline="") as fh:
                w = csv.writer(fh)
                w.writerow(["part", "id", "ver", "amount", "tag"])
                w.writerows([p, k, v, a, t] for (p, k), (v, a, t) in rows)
            result = {"untimed_files": 1,
                      "ops": [{"idx": i - 1, "file": i, "ok": True, "hot_rows": h}
                              for i, h in enumerate(hot) if i > 0]}
            flags, errors = check.check_cdc(4, result, out)
            self.assertEqual((all(flags), errors), (True, []))

            result["ops"][0]["hot_rows"] += 1
            self.assertFalse(check.check_cdc(4, result, out)[0][0])
            result["ops"][0]["hot_rows"] -= 1

            with open(out / "table" / "part-0.csv", "a", newline="") as fh:
                (p, k), (v, a, t) = rows[0]
                csv.writer(fh).writerow([p, k + 10**9, v, a, t])
            self.assertIn("final snapshot differs from the model",
                          check.check_cdc(4, result, out)[1])

    def test_analytics(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            data, out = Path(d) / "data", Path(d) / "out"
            gen.write_analytics(2, data)
            oracle = {"q_count": "SELECT count(*) AS n FROM lineitem",
                      "q_flags": "SELECT l_returnflag, sum(l_quantity) AS q "
                                 "FROM lineitem GROUP BY 1 ORDER BY 1"}
            (out / "q").mkdir(parents=True)
            (out / "q" / "oracle_sql.json").write_text(json.dumps(oracle))
            con = duckdb.connect()
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                        f"read_parquet('{data / 'lineitem.parquet'}')")

            def dump(name, sql):
                (out / "q" / name).mkdir(exist_ok=True)
                con.execute(f"COPY ({sql}) TO '{out / 'q' / name / 'part-0.parquet'}' "
                            "(FORMAT PARQUET)")
            for name, sql in oracle.items():
                dump(name, sql)
            result = {"ops": [{"idx": i, "name": n, "ok": True, "match": True}
                              for i, n in enumerate(oracle)]}
            flags, errors = check.check_analytics(result, out, data, CHECKER)
            self.assertEqual((all(flags), errors), (True, []))

            dump("q_count", "SELECT count(*) + 1 AS n FROM lineitem")
            flags, errors = check.check_analytics(result, out, data, CHECKER)
            self.assertEqual(flags, [False, True])
            self.assertTrue(any("q_count" in e for e in errors))

            dump("q_count", oracle["q_count"])
            result["ops"][1]["match"] = False   # a timed op returned other rows
            self.assertEqual(check.check_analytics(result, out, data, CHECKER)[0],
                             [True, False])


if __name__ == "__main__":
    unittest.main()
