"""Correctness checks and aggregation for the nightly-pass benchmark.

The JVM side (NightlyBench) records, per sample, the timings, per-layer
numbers and the raw outputs of the passes. Here every sample's outputs
are checked against the fixture manifest (a failed check fails the sample
and counts in ``failed``; it is never dropped), and the samples are
reduced to the metrics registered in BENCHMARK.json.
"""

import json
import math
import statistics

# How far a recorded command start may trail the night's deadline: the
# scheduler decides before the stamp (admission, then the TOCTOU probe,
# then the executor stamps the start), so a command admitted just before
# the deadline is stamped a few milliseconds after it.
DEADLINE_STAMP_SLACK_MS = 100

INGEST_STAGES = ("dedup_ingest", "ann_ingest", "forget_queue", "oov_qc")

# Per-layer metric prefixes each workload exercises. A registered
# per-layer metric outside a workload's layers is reported as 0 there;
# one inside them must come from the run.
LAYERS = {
    "full_pass": ("checks.", "catalog.", "state.", "scheduler.",
                  "executor.", "spark.", "fs."),
    "arrival_night": ("arrival.", "streaming.", "pipeline.", "executor.",
                      "spark.", "fs."),
}
COMMON_LAYER = ("ops_failed_ratio", "trace.")

# What each end-to-end metric is on each workload, by its operator-facing
# name. pass_norm is the pass's wall time divided by a fixed reference load
# timed beside it (NightlyBench's probe): this host's speed drifts by up
# to 2x within minutes, which moves raw seconds by more than any useful
# bound, while the ratio stays put.
ALIASES = {
    "full_pass": {"pass_norm": "full_pass_norm"},
    "arrival_night": {"pass_norm": "busy_pass_norm"},
}

# Operator-facing end-to-end numbers a workload prints beside the
# registered metrics, ungated: (name, unit, values of one sample).
EXTRA = {
    "full_pass": [
        ("full_pass_s", "s", lambda s: [s["e2e"]["pass_s"]])],
    "arrival_night": [
        ("busy_pass_s", "s", lambda s: [s["e2e"]["pass_s"]]),
        ("quiet_pass_s", "s", lambda s: [s["e2e"]["quiet_pass_s"]])],
}


def _check(results, name, ok, detail=""):
    results.append({"check": name, "ok": bool(ok), "detail": detail})


# -- lake passes -----------------------------------------------------------

def expected_command_violations(cmd, lake):
    """What one phase-1 or CHECKTABLE command must report on lake L."""
    kind, db, obj = cmd[0], cmd[1], cmd[2]
    if kind == "DBCC_CHECKALLOC":
        return lake["checkalloc_violations"].get(db, 0)
    if kind == "DBCC_CHECKCATALOG":
        return 0
    return lake["tables"][f"{db}.main.{obj}"]["checktable_violations"]


def _command_checks(results, commands, lake, prefix):
    wrong = [f"{c[0]} {c[1]}.{c[2]}: {c[3]} != "
             f"{expected_command_violations(c, lake)}"
             for c in commands if c[3] != expected_command_violations(c, lake)]
    _check(results, f"{prefix}per_command_violations", not wrong,
           "; ".join(wrong[:5]))
    errs = [f"{c[1]}.{c[2]}" for c in commands if c[3] < 0 or c[4] == 50000]
    _check(results, f"{prefix}no_command_errors", not errs, ", ".join(errs))


def check_full_pass(sample, manifest):
    lake = manifest["lake"]
    c = sample["check"]
    res = []
    _check(res, "violations_equal_injected",
           c["violations"] == lake["injected_total"],
           f"{c['violations']} vs {lake['injected_total']}")
    _check(res, "errors_zero", c["errors"] == 0, str(c["errors"]))
    _command_checks(res, c["commands"], lake, "")
    checked = sorted(f"{x[1]}.main.{x[2]}" for x in c["commands"]
                     if x[0] == "DBCC_CHECKTABLE")
    _check(res, "every_table_checked_once",
           checked == sorted(lake["tables"]), f"{len(checked)} checks")
    stale = [s[0] for s in c["state"] if s[2] and s[1] != c["night"]]
    _check(res, "last_check_date_is_tonight",
           not stale and len(c["state"]) == len(lake["tables"]),
           f"stale: {stale[:5]}")
    return res


def rotation_order(sample):
    """Replays the rotation from the snapshot (every table last checked
    the night before night 0): returns, per CHECKTABLE in run order,
    (night, db, table, night index of the table's previous check), the
    coverage prefix length, and the re-checks made before coverage."""
    c = sample["check"]
    tables = set(c["tables"])
    last = {t: -1 for t in tables}
    picks, covered, prefix, rechecks = [], set(), None, 0
    for i, n in enumerate(c["nights"]):
        before = dict(last)
        for x in n["commands"]:
            if x[0] != "DBCC_CHECKTABLE":
                continue
            t = f"{x[1]}.{x[2]}"
            picks.append((i, x[1], t, before.get(t)))
            if prefix is None:
                if t in covered:
                    rechecks += 1
                covered.add(t)
                if covered == tables:
                    prefix = len(picks)
            last[t] = i
    return picks, prefix, rechecks


def check_rotation(sample, manifest):
    """The scheduler's rotation promises (ref IC:583-668): every table is
    checked within the rotation, never twice in one night, and within a
    night each database's tables go least-recently-checked first. (A
    table checked last night may be re-checked before another database's
    older tables: databases are taken one at a time, oldest first, and a
    database's queue runs to the end before the next one starts.)"""
    lake = manifest["lake"]
    c = sample["check"]
    res = []
    tables = set(c["tables"])
    picks, prefix, _ = rotation_order(sample)
    _check(res, "rotation_covers_every_table", prefix is not None,
           f"{len({p[2] for p in picks})}/{len(tables)}")
    twice = sorted({f"night{i} {t}" for i, _, t, _ in picks
                    if sum(1 for p in picks if p[0] == i and p[2] == t) > 1})
    _check(res, "no_table_twice_in_a_night", not twice, ", ".join(twice[:5]))
    inverted = []
    for a, b in zip(picks, picks[1:]):
        if a[0] == b[0] and a[1] == b[1] and b[3] < a[3]:
            inverted.append(f"night{b[0]} {b[2]} after {a[2]}")
    _check(res, "least_recently_checked_first_within_db", not inverted,
           ", ".join(inverted[:5]))
    first = {}
    for n in c["nights"]:
        for x in n["commands"]:
            if x[0] == "DBCC_CHECKTABLE":
                first.setdefault(f"{x[1]}.{x[2]}", x[3])
    want = sum(e["checktable_violations"] for e in lake["tables"].values())
    got = sum(first.values())
    _check(res, "rotation_violations_equal_injected", got == want,
           f"{got} vs {want}")
    late, errors, totals = [], 0, []
    for i, n in enumerate(c["nights"]):
        _command_checks(res, n["commands"], lake, f"night{i}_")
        errors += n["errors"]
        totals.append(n["violations"] ==
                      sum(x[3] for x in n["commands"] if x[3] > 0))
        late += [f"night{i} {x[1]}.{x[2]}" for x in n["commands"]
                 if n["deadline_ms"] is None or
                 x[5] > n["deadline_ms"] + DEADLINE_STAMP_SLACK_MS]
    _check(res, "night_totals_match_commands", all(totals))
    _check(res, "errors_zero", errors == 0, str(errors))
    _check(res, "no_command_starts_after_deadline", not late,
           ", ".join(late[:5]))
    return res


# -- arrival ---------------------------------------------------------------

def check_arrival(sample, manifest):
    m = manifest["arrival"]
    c = sample["check"]
    res = []
    new_docs = set(m["night_doc_ids"])
    pairs = c["new_pairs"]
    outside = [p for p in pairs if p[0] not in new_docs and p[1] not in new_docs]
    _check(res, "pairs_involve_new_docs", not outside, str(outside[:5]))
    crossing = [p for p in pairs if (p[0] in new_docs) != (p[1] in new_docs)]
    _check(res, "pairs_cross_store_boundary", len(crossing) > 0,
           f"{len(crossing)} of {len(pairs)}")
    for k in ("forgotten_in_sig", "forgotten_in_pairs", "forgotten_in_ann"):
        _check(res, k + "_zero", c[k] == 0, str(c[k]))
    want_sig = (c["pre_sig_rows"] + len(m["night_doc_ids"]) -
                len(m["takedown_doc_ids"]))
    _check(res, "sig_rows_pre_plus_landed_minus_forgotten",
           c["post_sig_rows"] == want_sig, f"{c['post_sig_rows']} vs {want_sig}")
    want_ann = (c["pre_ann_rows"] + len(m["night_vec_ids"]) -
                len(m["takedown_vec_ids"]))
    _check(res, "ann_rows_pre_plus_landed_minus_forgotten",
           c["post_ann_rows"] == want_ann, f"{c['post_ann_rows']} vs {want_ann}")
    _check(res, "integrity_violations_equal_injected",
           c["busy_violations"] == m["night_null_rows"],
           f"{c['busy_violations']} vs {m['night_null_rows']}")
    _check(res, "errors_zero", c["busy_errors"] == 0, str(c["busy_errors"]))
    failed = [s[0] for s in c["busy_stages"] + c["quiet_stages"]
              if s[1] == "failed"]
    _check(res, "no_failed_stage", not failed, ", ".join(failed))
    quiet = {s[0]: s for s in c["quiet_stages"]}
    loud = [k for k in INGEST_STAGES
            if quiet.get(k, [k, "absent"])[1] != "skipped_empty"]
    _check(res, "quiet_ingest_stages_skipped_empty", not loud, ", ".join(loud))
    _check(res, "quiet_emits_no_pairs", c["pair_batches_after_quiet"] == 0,
           str(c["pair_batches_after_quiet"]))
    maintain = quiet.get("ann_maintain", ["", "", ""])
    _check(res, "quiet_ann_maintain_unchanged",
           "unchanged since batch" in maintain[2], maintain[2][:120])
    _check(res, "quiet_violations_zero", c["quiet_violations"] == 0,
           str(c["quiet_violations"]))
    return res


CHECKS = {"full_pass": check_full_pass, "arrival_night": check_arrival}


def operations(workload, sample):
    """(attempted, failed) engine operations of one sample: executed
    commands and arrival stages; a command that threw or a failed stage
    counts as failed."""
    c = sample["check"]
    if workload == "arrival_night":
        stages = c["busy_stages"] + c["quiet_stages"]
        return len(stages), sum(1 for s in stages if s[1] == "failed")
    nights = c.get("nights", [c])
    cmds = [x for n in nights for x in n["commands"]]
    return len(cmds), sum(1 for x in cmds if x[3] < 0 or x[4] == 50000)


# -- aggregation -----------------------------------------------------------

def high_percentile(values):
    """(label, value): the highest percentile with at least ten samples
    beyond it, or the maximum when there are too few samples for one."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return "max", s[-1]
    p = math.floor(100 * (1 - 10 / n))
    return f"p{p}", s[math.ceil(p / 100 * n) - 1]


def _owned(workload, name):
    return name.startswith(LAYERS[workload] + COMMON_LAYER)


def summarize(workload, records, manifest, registry, traced,
              spans_path=None):
    samples = [r for r in records if r["kind"] == "sample"]
    setup = next(r for r in records if r["kind"] == "setup")
    rotation = [r for r in records if r["kind"] == "rotation"]
    if not samples:
        raise SystemExit("perfbench: no sample was measured")
    summary = []
    attempted = failed = 0
    bad = []
    checked = [(s, CHECKS[workload]) for s in samples]
    for r in rotation:
        r["i"] = "rotation"
        r["layer"]["scheduler.rechecks_before_coverage"] = float(
            rotation_order(r)[2])
        r["layer"]["scheduler.night_budget_frac"] = statistics.median(
            r["check"]["budget_fracs"])
        checked.append((r, check_rotation))
        summary.append(f"rotation: {len(r['check']['nights'])} night(s) at "
                       f"--time-limit {r['check']['time_limit_s']} s")
    for s, check in checked:
        results = check(s, manifest)
        ops, ops_failed = operations(workload, s)
        attempted += ops + len(results)
        failed += ops_failed + sum(1 for r in results if not r["ok"])
        bad += [f"sample {s['i']}: {r['check']} {r['detail']}"
                for r in results if not r["ok"]]
    summary += [f"check FAILED {b}" for b in bad]
    summary.append(f"checks: {attempted} attempted, {failed} failed over "
                   f"{len(samples)} sample(s)")

    units = {m["name"]: m["unit"] for m in
             registry["end_to_end"] + registry["per_layer"]}
    metrics = {}
    if not traced:
        for s in samples:
            s["e2e"]["pass_norm"] = s["e2e"]["pass_s"] / s["e2e"]["probe_s"]
        for m in registry["end_to_end"]:
            name = m["name"]
            vals = ([setup["session_s"] + c for c in setup["setup_pass_s"]]
                    if name == "setup_s" else
                    [s["e2e"][name] for s in samples])
            label, hi = high_percentile(vals)
            alias = ALIASES[workload].get(name, name)
            summary.append(f"metric {alias} [{name}] median="
                           f"{statistics.median(vals):.4f} {label}={hi:.4f} "
                           f"n={len(vals)} unit={m['unit']}")
            metrics[name] = {"value": statistics.median(vals),
                             "unit": m["unit"]}
        for name, unit, values in EXTRA.get(workload, []):
            vals = [v for s in samples for v in values(s)]
            label, hi = high_percentile(vals)
            summary.append(f"metric {name} median="
                           f"{statistics.median(vals):.4f} {label}={hi:.4f} "
                           f"n={len(vals)} unit={unit}")
        summary.append(f"metric ops_failed_ratio value={failed / attempted} "
                       f"({failed} of {attempted}) unit=ratio")
    else:
        on = [s for s in samples if s["traced"]]
        off = [s for s in samples if not s["traced"]]
        layer = {}
        for m in registry["per_layer"]:
            name = m["name"]
            vals = [s["layer"][name] for s in on + rotation
                    if name in s["layer"]]
            if vals:
                layer[name] = statistics.median(vals)
            elif not _owned(workload, name):
                layer[name] = 0.0
        layer["ops_failed_ratio"] = failed / attempted
        if off:
            layer["trace.overhead_s"] = (
                statistics.median(s["e2e"]["pass_s"] for s in on) -
                statistics.median(s["e2e"]["pass_s"] for s in off))
        spans = []
        if spans_path:
            with open(spans_path) as fh:
                spans = [json.loads(line) for line in fh if line.strip()]
        layer["trace.spans"] = float(len(spans))
        missing = [m["name"] for m in registry["per_layer"]
                   if m["name"] not in layer]
        if missing:
            raise SystemExit(f"perfbench: per-layer metric(s) not measured: "
                             f"{', '.join(missing)}")
        for name, v in sorted(layer.items()):
            summary.append(f"layer {name} = {v:.6g} {units.get(name, '')}")
        for name, (own, wall) in sorted(self_times(spans).items()):
            summary.append(f"self {name} = {own:.4f} s of {wall:.4f} s")
        summary.append(f"spans: {len(spans)} written to {spans_path}")
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in registry["per_layer"]}
    return {"summary": summary, "correct": failed == 0,
            "attempted": attempted, "failed": failed, "metrics": metrics}


def registered_names(registry):
    return {m["name"] for m in registry["end_to_end"] + registry["per_layer"]}


def self_times(spans):
    """{span name: (median self s, median wall s)} over every span that has
    children; self time is the span's duration minus the part of it its
    children's union covers."""
    kids = {}
    for sp in spans:
        kids.setdefault((sp["sample"], sp["parent"]), []).append(sp)
    out = {}
    for sp in spans:
        children = kids.get((sp["sample"], sp["name"]))
        if not children:
            continue
        covered, end = 0.0, sp["start_ms"]
        for c in sorted(children, key=lambda c: c["start_ms"]):
            a = max(c["start_ms"], end)
            b = min(c["end_ms"], sp["end_ms"])
            if b > a:
                covered += b - a
                end = b
        wall = sp["end_ms"] - sp["start_ms"]
        out.setdefault(sp["name"], []).append(((wall - covered) / 1e3,
                                               wall / 1e3))
    return {k: (statistics.median(v[0] for v in vs),
                statistics.median(v[1] for v in vs)) for k, vs in out.items()}
