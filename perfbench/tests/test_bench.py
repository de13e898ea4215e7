"""The benchmark's own tests: generator determinism, the tail-percentile
rule, span self-time arithmetic, and the fleet's query lists.

Run: python3 -m unittest discover -s perfbench/tests
"""
import glob
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import metrics  # noqa: E402


def digests(d):
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(Path(d).iterdir()) if p.is_file()}


class GeneratorTest(unittest.TestCase):
    def stage(self, d, seed):
        return gen.stage("poll_prod", seed, d, 3000, 1500, rate=10.0,
                         warm_events=100)

    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            self.stage(a, 7)
            self.stage(b, 7)
            self.assertEqual(digests(a), digests(b))
            gen.stage_fleet(7, os.path.join(a, "fleet"))
            gen.stage_fleet(7, os.path.join(b, "fleet"))
            self.assertEqual(digests(os.path.join(a, "fleet")),
                             digests(os.path.join(b, "fleet")))

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            self.stage(a, 7)
            self.stage(b, 8)
            self.assertNotEqual(digests(a)["users.csv"],
                                digests(b)["users.csv"])

    def test_every_event_class_is_emitted_and_counted(self):
        with tempfile.TemporaryDirectory() as d:
            m = self.stage(d, 3)
            self.assertEqual(set(m["event_classes"]), set(gen.CLASSES))
            self.assertTrue(all(n > 0 for n in m["event_classes"].values()))
            self.assertEqual(sum(m["event_classes"].values()), 1500)
            with open(os.path.join(d, "schedule.csv")) as f:
                rows = [line.rstrip("\n").split(";") for line in f][1:]
            self.assertEqual(len(rows), 1500)
            for cls in gen.CLASSES:
                self.assertEqual(sum(r[3] == cls for r in rows),
                                 m["event_classes"][cls])

    def test_schemas_match_the_engine(self):
        schema = (ROOT / "src/main/scala/graft/etl/EtlSchema.scala").read_text()

        def fields(name):
            body = schema.split(f"val {name}: Seq[String] = Seq(")[1]
            return re.findall(r'"(\w+)"', body.split(")")[0])
        self.assertEqual(gen.USER_FIELDS, fields("userFields"))
        self.assertEqual(gen.EVENT_FIELDS, fields("eventFields"))
        self.assertEqual(len(gen.USER_FIELDS), 32)
        self.assertEqual(len(gen.EVENT_FIELDS), 17)
        with tempfile.TemporaryDirectory() as d:
            self.stage(d, 1)
            for name, n in (("users.csv", 32), ("events.csv", 17)):
                with open(os.path.join(d, name), encoding="utf-8") as f:
                    header = f.readline().rstrip("\n").split(";")
                self.assertEqual(len(header), n)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.quantile(xs, 0.5), 50)
        self.assertEqual(metrics.quantile(xs, 0.9), 90)
        self.assertEqual(metrics.quantile([5.0], 0.9), 5.0)

    def test_tail_needs_ten_samples_beyond(self):
        xs = [float(i) for i in range(100)]
        self.assertEqual(metrics.beyond(100, 0.9), 10)
        self.assertEqual(metrics.tail(xs, 0.9), 89.0)
        self.assertGreaterEqual(sum(x > metrics.tail(xs, 0.9) for x in xs), 10)
        with self.assertRaises(ValueError):
            metrics.tail(xs[:99], 0.9)
        with self.assertRaises(ValueError):
            metrics.tail(list(range(999)), 0.99)
        self.assertEqual(metrics.beyond(1000, 0.99), 10)


def span(i, parent, a, b, name="s"):
    return {"id": i, "parent": parent, "name": name, "start_ms": a,
            "end_ms": b}


class SelfTimeTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 1, 90, 120), span(5, 2, 15, 20)]
        st = metrics.self_times(spans)
        # children cover [10, 60] and [90, 100] of the parent
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 5)

    def test_nested_self_times_sum_to_the_root(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 5, 50), span(3, 2, 10, 20),
                 span(4, 1, 50, 95)]
        self.assertAlmostEqual(sum(metrics.self_times(spans).values()), 100)


class AccountingTest(unittest.TestCase):
    def test_wall_splits_into_layers_harness_and_outside(self):
        import run
        selfs = {"Bench.run": 5.0, "Source.apply": 3.0, "CdcStream.run": 70.0,
                 "Directory.save": 12.0}
        acc = run.accounting(selfs, jvm_wall_ms=100.0, bench_run_ms=90.0)
        self.assertEqual(acc["layer_self_ms"], 82.0)
        self.assertEqual(acc["harness_self_ms"], 8.0)
        self.assertEqual(acc["outside_spans_ms"], 10.0)
        self.assertAlmostEqual(acc["layer_share"]["value"] +
                               acc["harness_share"]["value"] +
                               acc["outside_share"]["value"], 1.0)


def reference_readers(src_root):
    """Registry queries whose code reads the py-etl fixture tree: the
    member defs that use a file's `refData` root, closed over calls
    within their file, mapped through the file's `queries` registry."""
    hits = set()
    for path in glob.glob(os.path.join(src_root, "**", "*.scala"),
                          recursive=True):
        text = open(path, encoding="utf-8").read()
        if not re.search(r"\bval refData = ", text):
            continue
        text = re.sub(r"/\*.*?\*/", "", text, flags=re.S)
        text = re.sub(r"(?m)//.*$", "", text)
        member = r"\n(?=  (?:private(?:\[\w+\])? )?(?:lazy )?(?:def|val) )"
        bodies = {}
        for part in re.split(member, text):
            m = re.match(r"\s*(?:private(?:\[\w+\])? )?(?:lazy )?"
                         r"(?:def|val) (\w+)", part)
            if m:
                bodies[m.group(1)] = bodies.get(m.group(1), "") + part
        registry = {"queries", "oracles"}
        tainted = {n for n, b in bodies.items()
                   if re.search(r"\brefData\b", b) and
                   n not in registry | {"refData"}}
        grown = True
        while grown:
            grown = False
            for n, b in bodies.items():
                body = b.split("\n", 1)[1] if "\n" in b else ""
                if n not in registry and n not in tainted and any(
                        re.search(rf"\b{re.escape(t)}\b", body)
                        for t in tainted):
                    tainted.add(n)
                    grown = True
        for q, fn in re.findall(r'"(q_\w+)"\s*->\s*\(([\w.]+) _\)',
                                bodies.get("queries", "")):
            if fn in tainted:
                hits.add(q)
    return hits


class FleetListTest(unittest.TestCase):
    def test_not_runnable_is_exactly_the_reference_readers(self):
        fleet = json.loads((BENCH / "fleet.json").read_text())
        found = reference_readers(str(ROOT / "src" / "main" / "scala"))
        self.assertEqual(sorted(found), sorted(fleet["not_runnable"]))
        self.assertEqual(len(found), 11)

    def test_fleet_runs_none_of_them(self):
        fleet = json.loads((BENCH / "fleet.json").read_text())
        self.assertFalse(set(fleet["queries"]) & set(fleet["not_runnable"]))

    def test_fleet_runs_one_query_per_registry_module(self):
        src = ROOT / "src" / "main" / "scala" / "graft"
        modules = re.findall(r"\((?:operators|ops)\.(\w+)\.queries,",
                             (src / "SparkEntry.scala").read_text())
        self.assertEqual(len(modules), 19)
        module_of = {}
        for m in modules:
            path, = list(src.glob(f"*/{m}.scala"))
            for q in re.findall(r'"(q_\w+)"\s*->', path.read_text()):
                module_of[q] = m
        fleet = json.loads((BENCH / "fleet.json").read_text())["queries"]
        self.assertEqual(sorted(module_of[q] for q in fleet), sorted(modules))


if __name__ == "__main__":
    unittest.main()
