#!/usr/bin/env python3
"""Regenerates perfbench/expected.json, the references run.py checks
outputs against. Run it from a graft checkout only when a workload's
inputs change (data, f1 date list, LLM call list, query_mix list):

    python3 perfbench/freeze.py           # expected.json
    python3 perfbench/freeze.py --mix     # mix_queries.txt, then expected.json

- query_mix list (--mix only): every candidate query is classified in
  one session (perfbench.Reference.classify); the list keeps, of each
  (module, id prefix) family, the eligible query with the lowest id
  number (ids without a number by name). Eligible: it has a DuckDB
  oracle, does not throw, writes no output bytes and starts no
  streaming query. The rule uses no timing, so it gives the same list
  on every host;
- llm_corpus and query_mix: each query's DuckDB oracle
  (SparkEntry.oracleSql) over perfbench/data, hashed in
  tools/check_oracle.py's canonical form;
- f1_store: the union of F1.featureStore over the frozen dates;
- f1_scored: the scored out-of-time frame of an f1_medallion run, which
  must hash the same from two runs with different replay orders.
"""
import json
import random
import re
import shutil
import sys

import duckdb

import run


def unit_dir(name):
    d = run.BUILD / "runs" / f"freeze-{name}"
    shutil.rmtree(d, ignore_errors=True)
    return d


def freeze_mix(cp):
    """Applies the query_mix selection rule; writes mix_queries.txt."""
    d = unit_dir("classify")
    _, res = run.jvm(cp, "classify", d, [])
    shutil.rmtree(d)
    eligible = {q: r for q, r in res.items() if r["oracle"] and not r["error"]
                and r["output_bytes"] == 0 and r["streams"] == 0}
    pick = {}
    for q, r in eligible.items():
        prefix, num = re.match(r"([a-z]+)(\d*)", q).groups()
        fam, key = (r["module"], prefix), (int(num or 0), q)
        if fam not in pick or key < pick[fam][0]:
            pick[fam] = (key, q)
    pick = {fam: q for fam, (_, q) in pick.items()}
    head = [l for l in (run.BENCH / "mix_queries.txt").read_text().splitlines()
            if l.startswith("#")]
    body = [f"{q} {res[q]['module']}" for q in sorted(pick.values())]
    (run.BENCH / "mix_queries.txt").write_text("\n".join(head + body) + "\n")
    print(json.dumps(res, indent=1), file=sys.stderr)


def main():
    # the offline JVMs run longer than a measured unit may
    run.UNIT_TIMEOUT_S = 900
    cp = run.build()
    if "--mix" in sys.argv[1:]:
        freeze_mix(cp)
    expected = {}

    queries = run.LLM_CALLS + run.mix_ids()
    d = unit_dir("oracle")
    _, sql = run.jvm(cp, "oracle", d, [("q", q) for q in queries])
    con = duckdb.connect()
    for t in sorted(run.DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    for q in queries:
        expected[q] = run.canon_hash(con.sql(sql[q]))
    shutil.rmtree(d)

    d = unit_dir("f1")
    dates = run.frozen("f1_dates.txt")
    run.jvm(cp, "expect", d, [("date", x) for x in dates])
    expected["f1_store"] = run.parquet_hash(con, d / "out" / "expect_store")
    shutil.rmtree(d)

    scored = set()
    for seed in (1, 2):
        d = unit_dir(f"score{seed}")
        calls = run.calls_for("f1_medallion", random.Random(seed))
        run.jvm(cp, "run", d, calls, "f1_medallion")
        scored.add(run.parquet_hash(con, d / "out" / "checks" / "f1_scored"))
        shutil.rmtree(d)
    if len(scored) != 1:
        sys.exit("f1_scored differs between two runs: the fit is not deterministic")
    expected["f1_scored"] = scored.pop()

    (run.BENCH / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    print(json.dumps(expected, indent=1))


if __name__ == "__main__":
    main()
