"""The benchmark's own tests: fixture determinism, that every correctness
check fails on a deliberately corrupted output, and that every metric
the benchmark prints is registered in BENCHMARK.json.

Run from the repository root:  python3 -m unittest discover perfbench/tests
"""

import copy
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import fixtures  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
    REGISTRY = json.load(fh)

_MANIFEST = {}


def manifest():
    """One generated fixture set shared by the tests (seed 5)."""
    if not _MANIFEST:
        with tempfile.TemporaryDirectory() as d:
            _MANIFEST.update(fixtures.build(d, 5))
    return _MANIFEST


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# -- well-formed samples, as the JVM side records them ----------------------

NIGHT = "2029-07-14"


def lake_commands(lake, tables, start_ms):
    cmds, t = [], start_ms
    for db in lake["databases"]:
        for kind in ("DBCC_CHECKALLOC", "DBCC_CHECKCATALOG"):
            v = lake["checkalloc_violations"][db] if kind.endswith("ALLOC") else 0
            cmds.append([kind, db, "", v, 8939 if v else 0, t, t + 5])
            t += 10
    for key in tables:
        db, _, obj = key.split(".")
        v = lake["tables"][key]["checktable_violations"]
        cmds.append(["DBCC_CHECKTABLE", db, obj, v, 8939 if v else 0, t, t + 5])
        t += 10
    return cmds


def full_pass_sample(m):
    lake = m["lake"]
    cmds = lake_commands(lake, sorted(lake["tables"]), 1_000)
    return {"i": 0, "traced": False, "e2e": {}, "layer": {}, "check": {
        "night": NIGHT, "violations": lake["injected_total"], "errors": 0,
        "deadline_ms": None, "commands": cmds, "skipped": [],
        "state": [[k, NIGHT, True] for k in sorted(lake["tables"])]}}


def rotation_sample(m):
    """Two nights; night 0 stops inside a database, night 1 starts with
    the tables night 0 left."""
    lake = m["lake"]
    keys = sorted(lake["tables"])
    half = len(keys) // 2 + 2
    nights = []
    for i, part in enumerate((keys[:half], keys[half:])):
        start = 10_000 * (i + 1)
        cmds = lake_commands(lake, part, start)
        nights.append({"night": NIGHT, "errors": 0, "skipped": [],
                       "deadline_ms": start + 5_000, "commands": cmds,
                       "violations": sum(c[3] for c in cmds), "state": []})
    return {"i": 0, "traced": False, "e2e": {}, "layer": {}, "check": {
        "tables": [f"{k.split('.')[0]}.{k.split('.')[2]}" for k in keys],
        "time_limit_s": 5, "budget_fracs": [1.0, 0.5], "nights": nights}}


def arrival_sample(m):
    a = m["arrival"]
    new = a["night_doc_ids"]
    quiet = [["integrity_incremental", "ran", "quiet=3"],
             ["dedup_ingest", "skipped_empty", ""],
             ["ann_ingest", "skipped_empty", ""],
             ["forget_queue", "skipped_empty", ""],
             ["ann_maintain", "ran",
              "action=none (unchanged since batch 1; store scan skipped)"],
             ["oov_qc", "skipped_empty", ""]]
    return {"i": 0, "traced": False, "e2e": {}, "layer": {}, "check": {
        "busy_stages": [[s[0], "ran", ""] for s in quiet],
        "quiet_stages": quiet, "busy_violations": 1, "busy_errors": 0,
        "quiet_violations": 0,
        "new_pairs": [[a["near_dup_sources"][0], new[0]], [new[1], new[2]]],
        "pair_batches_after_quiet": 0, "forgotten_in_sig": 0,
        "forgotten_in_pairs": 0, "forgotten_in_ann": 0,
        "pre_sig_rows": 1000,
        "post_sig_rows": 1000 + len(new) - len(a["takedown_doc_ids"]),
        "pre_ann_rows": 500,
        "post_ann_rows": 500 + len(a["night_vec_ids"]) -
        len(a["takedown_vec_ids"])}}


def failing(results):
    return {r["check"] for r in results if not r["ok"]}


class FixtureTest(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            fixtures.build(a, 9)
            fixtures.build(b, 9)
            fixtures.build(c, 10)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_manifest_records_files_and_injections(self):
        m = manifest()
        self.assertTrue(all(f["rows"] >= 0 for f in m["files"]))
        self.assertEqual(m["total_bytes"], sum(f["bytes"] for f in m["files"]))
        zero = [f for f in m["files"] if f["bytes"] == 0]
        self.assertEqual(len(zero), 1)
        lake = m["lake"]
        self.assertEqual(lake["injected_total"], sum(
            e["nan"] + e["bad_ts"] + e["zero_byte_parts"]
            for e in lake["tables"].values()))
        self.assertGreater(lake["injected_total"], 1)
        self.assertEqual(m["arrival"]["night_null_rows"], 1)


class CorrectnessChecksTest(unittest.TestCase):
    """Each check passes on a well-formed sample and fails on a sample
    corrupted in exactly the way that check guards against."""

    def assert_catches(self, check, sample, name, corrupt):
        m = manifest()
        self.assertEqual(failing(check(sample, m)), set())
        bad = copy.deepcopy(sample)
        corrupt(bad["check"])
        self.assertIn(name, failing(check(bad, m)))

    def test_full_pass(self):
        m = manifest()
        s = full_pass_sample(m)
        ct = next(i for i, c in enumerate(s["check"]["commands"])
                  if c[0] == "DBCC_CHECKTABLE")

        def wrong_count(c):
            c["commands"][ct][3] += 1

        def threw(c):
            c["commands"][ct][3:5] = [-1, 50000]

        cases = {
            "violations_equal_injected":
                lambda c: c.update(violations=c["violations"] - 1),
            "errors_zero": lambda c: c.update(errors=1),
            "per_command_violations": wrong_count,
            "no_command_errors": threw,
            "every_table_checked_once": lambda c: c["commands"].pop(),
            "last_check_date_is_tonight":
                lambda c: c["state"][0].__setitem__(1, "2029-07-13"),
        }
        for name, corrupt in cases.items():
            with self.subTest(name):
                self.assert_catches(checks.check_full_pass, s, name, corrupt)

    def test_rotation(self):
        m = manifest()
        s = rotation_sample(m)

        def last_ct(c, night=1):
            return next(x for x in reversed(c["nights"][night]["commands"])
                        if x[0] == "DBCC_CHECKTABLE")

        def drop_table(c):
            c["nights"][1]["commands"].remove(last_ct(c))

        def twice(c):
            c["nights"][1]["commands"].append(list(last_ct(c)))

        def recheck_first(c):
            # a table checked on night 0 re-checked on night 1 ahead of a
            # same-database table still waiting since the snapshot
            moved = next(x for x in c["nights"][0]["commands"]
                         if x[0] == "DBCC_CHECKTABLE" and any(
                             y[0] == "DBCC_CHECKTABLE" and y[1] == x[1]
                             for y in c["nights"][1]["commands"]))
            cmds = c["nights"][1]["commands"]
            at = next(i for i, y in enumerate(cmds)
                      if y[0] == "DBCC_CHECKTABLE" and y[1] == moved[1])
            cmds.insert(at, list(moved))
            c["nights"][1]["violations"] += moved[3]

        def first_wrong(c):
            x = next(x for x in c["nights"][0]["commands"]
                     if x[0] == "DBCC_CHECKTABLE")
            x[3] += 1
            c["nights"][0]["violations"] += 1

        def late(c):
            last_ct(c)[5] = c["nights"][1]["deadline_ms"] + 1_000

        cases = {
            "rotation_covers_every_table": drop_table,
            "no_table_twice_in_a_night": twice,
            "least_recently_checked_first_within_db": recheck_first,
            "rotation_violations_equal_injected": first_wrong,
            "night0_per_command_violations": first_wrong,
            "night1_no_command_errors":
                lambda c: last_ct(c).__setitem__(4, 50000),
            "night_totals_match_commands":
                lambda c: c["nights"][0].update(violations=-5),
            "errors_zero": lambda c: c["nights"][1].update(errors=2),
            "no_command_starts_after_deadline": late,
        }
        for name, corrupt in cases.items():
            with self.subTest(name):
                self.assert_catches(checks.check_rotation, s, name, corrupt)

    def test_arrival(self):
        m = manifest()
        a = m["arrival"]
        s = arrival_sample(m)
        old = a["near_dup_sources"]

        def stage(c, phase, name, status=None, detail=None):
            st = next(x for x in c[phase] if x[0] == name)
            if status:
                st[1] = status
            if detail is not None:
                st[2] = detail

        cases = {
            "pairs_involve_new_docs":
                lambda c: c["new_pairs"].append([old[0], old[1]]),
            "pairs_cross_store_boundary":
                lambda c: c.update(new_pairs=c["new_pairs"][1:]),
            "forgotten_in_sig_zero": lambda c: c.update(forgotten_in_sig=1),
            "forgotten_in_pairs_zero":
                lambda c: c.update(forgotten_in_pairs=2),
            "forgotten_in_ann_zero": lambda c: c.update(forgotten_in_ann=1),
            "sig_rows_pre_plus_landed_minus_forgotten":
                lambda c: c.update(post_sig_rows=c["post_sig_rows"] + 1),
            "ann_rows_pre_plus_landed_minus_forgotten":
                lambda c: c.update(post_ann_rows=c["post_ann_rows"] - 1),
            "integrity_violations_equal_injected":
                lambda c: c.update(busy_violations=0),
            "errors_zero": lambda c: c.update(busy_errors=1),
            "no_failed_stage":
                lambda c: stage(c, "busy_stages", "oov_qc", "failed"),
            "quiet_ingest_stages_skipped_empty":
                lambda c: stage(c, "quiet_stages", "dedup_ingest", "ran"),
            "quiet_emits_no_pairs":
                lambda c: c.update(pair_batches_after_quiet=1),
            "quiet_ann_maintain_unchanged":
                lambda c: stage(c, "quiet_stages", "ann_maintain",
                                detail="action=compact"),
            "quiet_violations_zero":
                lambda c: c.update(quiet_violations=3),
        }
        for name, corrupt in cases.items():
            with self.subTest(name):
                self.assert_catches(checks.check_arrival, s, name, corrupt)

    def test_failed_check_fails_the_result(self):
        m = manifest()
        s = full_pass_sample(m)
        s["e2e"] = {"pass_s": 1.0, "probe_s": 0.5, "peak_heap_mb": 50.0}
        s["check"]["violations"] += 1
        setup = {"kind": "setup", "session_s": 1.0,
                 "setup_pass_s": [2.0, 2.5, 1.5]}
        r = checks.summarize("full_pass", [setup, dict(s, kind="sample")], m,
                             REGISTRY, traced=False)
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)


def workload_records(workload, traced):
    """A run's records as the JVM side writes them: set-up, an untraced and
    a traced sample, and (traced full_pass) the rotation."""
    m = manifest()
    sample = {"full_pass": full_pass_sample,
              "arrival_night": arrival_sample}[workload](m)
    layer_names = [x["name"] for x in REGISTRY["per_layer"]
                   if x["name"] != "scheduler.rechecks_before_coverage"]
    out = [{"kind": "setup", "session_s": 1.0,
            "setup_pass_s": [2.0, 2.5, 1.5]}]
    for i, t in enumerate((False, True)):
        s = dict(copy.deepcopy(sample), kind="sample", i=i, traced=t)
        s["e2e"] = {"pass_s": 1.0 + i, "probe_s": 0.5, "peak_heap_mb": 9.0,
                    "quiet_pass_s": 0.5}
        s["layer"] = {n: 1.0 for n in layer_names
                      if checks._owned(workload, n) and
                      not n.startswith(checks.COMMON_LAYER)}
        out.append(s)
    if workload == "full_pass" and traced:
        out.append({"kind": "rotation", "check": rotation_sample(m)["check"],
                    "layer": {n: 1.0 for n in layer_names
                              if n.startswith("scheduler.")}})
    return out


class ResultTest(unittest.TestCase):
    def test_failed_rotation_check_fails_the_traced_result(self):
        recs = workload_records("full_pass", True)
        self.assertTrue(checks.summarize("full_pass", copy.deepcopy(recs),
                                         manifest(), REGISTRY,
                                         traced=True)["correct"])
        rot = recs[-1]["check"]["nights"][1]
        rot["commands"][-1][5] = rot["deadline_ms"] + 1_000
        r = checks.summarize("full_pass", recs, manifest(), REGISTRY,
                             traced=True)
        self.assertFalse(r["correct"])
        self.assertGreater(r["metrics"]["ops_failed_ratio"]["value"], 0)


class MetricRegistryTest(unittest.TestCase):
    def test_printed_metrics_are_registered(self):
        registered = checks.registered_names(REGISTRY)
        for w in sorted(checks.CHECKS):
            for traced in (False, True):
                with self.subTest(workload=w, traced=traced):
                    r = checks.summarize(w, workload_records(w, traced),
                                         manifest(), REGISTRY, traced=traced)
                    kind = "per_layer" if traced else "end_to_end"
                    want = [x["name"] for x in REGISTRY[kind]]
                    self.assertEqual(sorted(r["metrics"]), sorted(want))
                    for name, v in r["metrics"].items():
                        self.assertIn(name, registered)
                        self.assertEqual(v["unit"], next(
                            x["unit"] for x in REGISTRY[kind]
                            if x["name"] == name))
                    for line in r["summary"]:
                        if line.startswith("metric "):
                            name = re.search(r"\[(\S+)\]", line)
                            if name:
                                self.assertIn(name.group(1), registered)

    def test_jvm_metric_names_are_registered(self):
        """Every per-layer name the JVM side writes is registered."""
        registered = checks.registered_names(REGISTRY)
        src = os.path.join(BENCH, "src", "main", "scala", "graft", "perfbench")
        text = ""
        for f in sorted(os.listdir(src)):
            with open(os.path.join(src, f)) as fh:
                text += fh.read()
        literal = re.compile(r'"((?:checks|catalog|state|scheduler|streaming|'
                             r'pipeline|executor|spark|fs)\.[a-z_]+)"')
        names = set(literal.findall(text))
        stages = re.search(r"Stages = Seq\(([^)]*)\)", text).group(1)
        for phase in ("busy", "quiet"):
            names |= {f"arrival.{phase}.{s}_s"
                      for s in re.findall(r'"([a-z_]+)"', stages)}
            names.add(f"arrival.{phase}.probe_s")
        self.assertTrue(names)
        self.assertEqual(sorted(names - registered), [])

    def test_registry_contract(self):
        e2e = {x["name"]: x for x in REGISTRY["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(e2e["setup_s"]["better"], "lower")
        self.assertEqual(e2e["setup_s"]["bound"],
                         max(x["bound"] for x in e2e.values()))
        self.assertTrue(all(x["bound"] <= 0.25 for x in e2e.values()))
        self.assertEqual(sorted(x["name"] for x in REGISTRY["workloads"]),
                         sorted(checks.CHECKS))
        names = [x["name"] for x in REGISTRY["end_to_end"] +
                 REGISTRY["per_layer"]]
        self.assertEqual(len(names), len(set(names)))


if __name__ == "__main__":
    unittest.main()
