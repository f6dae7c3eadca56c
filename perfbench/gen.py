#!/usr/bin/env python3
"""Seeded input generator for the three benchmark workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

writes `<dir>/plan.json` plus the files it names. The same seed gives
byte-identical output. The engine sees only these inputs; every expected
answer in the plan is computed here, independently of the engine.
"""
import argparse
import calendar
import json
import os
import random

WORKLOADS = ("athena_sql", "lake_lookup", "ingest_commit")

# athena_sql: the 29 Athena-surface queries over the read-only TPC-H-style
# tables of TESTDATA.md (sf0.1: lineitem ~600k rows, ~17 MB). The warm-up
# runs them once over sf0.01, whose answers are checked against the DuckDB
# oracle.
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_DIR = TESTDATA + "/sf0.1"
CHECK_DIR = TESTDATA + "/sf0.01"
QUERIES = [
    "q01_filter_agg", "q02_project_scalar", "q03_topk", "q04_join_broadcast",
    "q05_join_shuffle_agg", "q06_semi_join", "q07_anti_join",
    "q08_outer_join", "q09_distinct", "q10_union", "q11_intersect",
    "q12_except", "q13_rollup", "q14_cube", "q15_count_distinct",
    "q16_window_rank", "q17_window_lag", "q18_window_moving",
    "q19_string_funcs", "q20_case_when_null", "q21_subqueries",
    "q22_having_grouped", "q23_approx_count_distinct",
    "q24_approx_quantiles", "q25_tumbling_window",
    "q26_daily_user_activity", "q27_sessionize", "q28_event_funnel",
    "q29_json_extract",
]
ATHENA_PASSES = 20
# Sketch queries have no DuckDB oracle: their answers are checked for a
# fixed row count (on sf0.01) and for repeating exactly.
NO_ORACLE_ROWS = {"q23_approx_count_distinct": 1, "q24_approx_quantiles": 1}

# lake_lookup: COMMITS indexed commits of FILES_PER_COMMIT files of
# ROWS_PER_FILE rows: 1,000 data files, 100,000 rows, each file with
# min/max stats on `id` and a bloom sidecar on the unclustered `key`.
COMMITS = 200
FILES_PER_COMMIT = 5
ROWS_PER_FILE = 100
KEY_MOD = 100_003  # prime above the row count: key = (id*mul + add) % mod is a bijection
KEY_MUL, KEY_ADD = 48_271, 12_345  # fixed: the staged lake is the same for every seed
LAKE_SHAPE = (COMMITS, FILES_PER_COMMIT, ROWS_PER_FILE, KEY_MOD, KEY_MUL, KEY_ADD)
LOOKUP_GROUPS = 100
ASOF_STRATA = 8
ASOF_ORDER = (1, 7, 2, 4, 3, 5, 0, 6)

# ingest_commit: preamble-CSV drops of DROP_ROWS rows x (2 + DATA_COLS)
# columns (above spark.sql.codegen.maxFields = 100, so the wide-row
# fallback runs), one per ingest step; a versioned lake of BASE_ROWS rows
# takes streaming appends, DELETE, MERGE, UPDATE and a compaction per cycle.
DROP_ROWS = 600
DATA_COLS = 118
GROUP_SIZE = 3
BASE_ROWS = 2000
STREAM_ROWS = 200
DELETE_SPAN = 50
MERGE_UPDATES = 70
MERGE_INSERTS = 30
GROUPS = 10
# one unit of work; a CALL compact closes every cycle. CYCLES is more than
# the fastest run gets through, so the time budget, not the plan, ends it.
CYCLE = ["ingest", "stream", "ingest", "delete", "ingest", "merge", "ingest", "update"]
CYCLES = 10
WARM_CYCLES = 2


def rng(workload, seed):
    return random.Random(int(seed) * 8 + WORKLOADS.index(workload))


def athena(r, out):
    passes = []
    for _ in range(ATHENA_PASSES):
        p = list(range(len(QUERIES)))
        r.shuffle(p)
        passes.append(p)
    return {"sf_dir": SF_DIR, "check_dir": CHECK_DIR, "queries": QUERIES,
            "passes": passes, "no_oracle_rows": NO_ORACLE_ROWS}


def lookup(r, out):
    n = COMMITS * FILES_PER_COMMIT * ROWS_PER_FILE
    per_commit = FILES_PER_COMMIT * ROWS_PER_FILE
    mul, add = KEY_MUL, KEY_ADD
    inv = pow(mul, -1, KEY_MOD)

    def v(i):
        return float(i * 37 % 1000)

    def agg(lo, hi, limit):
        ids = range(max(lo, 0), min(hi, limit - 1) + 1)
        return [float(len(ids)), float(sum(v(i) for i in ids))]

    def draw(kind):
        if kind == "bloom":
            k = r.randrange(0, KEY_MOD)
            i = (k - add) * inv % KEY_MOD
            rows = [float(i), float(k), v(i)] if i < n else []
            return {"kind": kind, "key": k, "expect": rows}
        if kind == "range":
            lo = r.randrange(0, n)
            hi = lo + r.randrange(20, 400)
            return {"kind": kind, "lo": lo, "hi": hi, "expect": agg(lo, hi, n)}
        if kind == "asof":
            # the version range is cut into ASOF_STRATA equal strata, and
            # group g draws from stratum ASOF_ORDER[g % ASOF_STRATA]: the
            # first 3, 4 or 5 groups, as many as a run gets through, have a
            # mean stratum within 1/6 of the middle one, so every run does
            # nearly the same time-travel work, while the draws still cover
            # all versions
            width = COMMITS // ASOF_STRATA
            c = ASOF_ORDER[len(groups) % ASOF_STRATA] * width + r.randrange(1, width + 1)
            limit = c * per_commit
            lo = r.randrange(0, limit)
            hi = lo + r.randrange(20, 400)
            return {"kind": kind, "commit": c, "lo": lo, "hi": hi,
                    "expect": agg(lo, hi, limit)}
        return {"kind": "meta", "expect": [float(n), 0.0, float(n - 1)]}

    def group():
        kinds = ["bloom", "range", "asof", "meta"]
        r.shuffle(kinds)
        return [draw(k) for k in kinds]

    groups = []
    warm = group()
    while len(groups) < LOOKUP_GROUPS:
        groups.append(group())
    return {"commits": COMMITS, "files_per_commit": FILES_PER_COMMIT,
            "rows_per_file": ROWS_PER_FILE, "key_mul": mul, "key_add": add,
            "key_mod": KEY_MOD, "warm_ops": warm, "groups": groups}


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="\n") as f:
        f.write(text)


def drop_csv(r, index):
    """One preamble-CSV drop in the reference's shape: a 6-row key/value
    preamble, a sparse super-category row, the header row, then one row
    per second. ClockDateTime is epoch seconds / 1e5."""
    width = 2 + DATA_COLS
    year = 2019 + index % 3
    month, day = r.randrange(1, 13), r.randrange(1, 29)
    # a start less than DROP_ROWS seconds before midnight, one row a
    # second: every drop crosses midnight, so each adds two date partitions
    hour, minute = 23, r.randrange(61 - DROP_ROWS // 60, 60)
    start = calendar.timegm((year, month, day, hour, minute, 0, 0, 0, 0))
    name = "PUH-%d-%03d_%02d.csv" % (year, index // 100, index % 100)

    def pad(cells):
        return ",".join(cells + [""] * (width - len(cells)))

    lines = [
        pad(["File", name]),
        pad(["PatientName", "Patient %d" % r.randrange(1000)]),
        pad(["PatientID", "P%05d" % r.randrange(100000)]),
        pad(["PatientBirthDate", "%d/%d/%d" % (r.randrange(1940, 2010),
                                               r.randrange(1, 13), r.randrange(1, 29))]),
        pad(["TestDate", "%d/%d/%d" % (year, month, day)]),
        pad(["TestTime", "%d:%d:0" % (hour, minute)]),
        pad(["", ""] + ["Group %d" % (j // GROUP_SIZE + 1) if j % GROUP_SIZE == 0 else ""
                        for j in range(DATA_COLS)]),
        ",".join(["ClockDateTime", "Time"] +
                 ["I%d_%d" % (j // GROUP_SIZE + 1, j % GROUP_SIZE + 1) for j in range(DATA_COLS)]),
    ]
    first = 0
    for i in range(DROP_ROWS):
        t = str(start + i)
        cells = [r.randrange(1000) for _ in range(DATA_COLS)]
        first += cells[0]
        lines.append(",".join([t[:-5] + "." + t[-5:], str(i)] +
                              ["0.%03d" % c for c in cells]))
    return name, "\n".join(lines) + "\n", first


def csv_rows(rows):
    return "".join("%d,%d,%d\n" % row for row in rows)


def ingest(r, out):
    live = {}
    for i in range(BASE_ROWS):
        live[i] = (r.randrange(GROUPS), r.randrange(1000))
    write(os.path.join(out, "base.csv"), csv_rows((i, g, v) for i, (g, v) in sorted(live.items())))
    next_id = BASE_ROWS
    lake_rows = lake_time = 0
    lake_first = 0  # sum of the first measurement column, in thousandths

    def vexpect():
        return [float(len(live)), float(sum(live)), float(sum(v for _, v in live.values()))]

    units, steps = [], []
    drops = streams = merges = 0
    for c in range(CYCLES):
        for op in CYCLE:
            s = {"op": op}
            if op == "ingest":
                name, text, first = drop_csv(r, drops)
                rel = "drops/%04d/%s" % (drops, name)
                write(os.path.join(out, rel), text)
                drops += 1
                lake_rows += DROP_ROWS
                lake_time += DROP_ROWS * (DROP_ROWS - 1) // 2
                lake_first += first
                s.update(file=rel, rows=DROP_ROWS,
                         expect=[float(lake_rows), float(lake_time), lake_first / 1000.0])
            elif op == "stream":
                rows = []
                for _ in range(STREAM_ROWS):
                    live[next_id] = (r.randrange(GROUPS), r.randrange(1000))
                    rows.append((next_id,) + live[next_id])
                    next_id += 1
                rel = "stream/e%04d.csv" % streams
                streams += 1
                write(os.path.join(out, rel), csv_rows(rows))
                s.update(file=rel, expect=vexpect())
            elif op == "delete":
                lo = r.randrange(0, next_id)
                hi = lo + DELETE_SPAN - 1
                for i in range(lo, hi + 1):
                    live.pop(i, None)
                s.update(lo=lo, hi=hi, expect=vexpect())
            elif op == "merge":
                ids = sorted(live)
                upd = sorted(r.sample(ids, min(MERGE_UPDATES, len(ids))))
                rows = []
                for i in upd:
                    live[i] = (r.randrange(GROUPS), r.randrange(1000))
                    rows.append((i,) + live[i])
                for _ in range(MERGE_INSERTS):
                    live[next_id] = (r.randrange(GROUPS), r.randrange(1000))
                    rows.append((next_id,) + live[next_id])
                    next_id += 1
                rel = "merge/m%04d.csv" % merges
                merges += 1
                write(os.path.join(out, rel), csv_rows(rows))
                s.update(file=rel, expect=vexpect())
            elif op == "update":
                g, d = r.randrange(GROUPS), r.randrange(1, 10)
                for i, (gi, v) in list(live.items()):
                    if gi == g:
                        live[i] = (gi, v + d)
                s.update(grp=g, delta=d, expect=vexpect())
            steps.append(s)
        steps.append({"op": "compact", "expect": vexpect()})
        units.append(steps)
        steps = []
    # warm-up: the first cycles again, on lakes of their own; one cycle
    # leaves later cycles still speeding up as the JIT compiles
    return {"base": "base.csv", "units": units, "warm": sum(units[:WARM_CYCLES], [])}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    r = rng(workload, seed)
    body = {"athena_sql": athena, "lake_lookup": lookup, "ingest_commit": ingest}[workload](r, out)
    plan = {"workload": workload, "seed": int(seed)}
    plan.update(body)
    write(os.path.join(out, "plan.json"), json.dumps(plan, sort_keys=True, indent=1))
    return plan


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
