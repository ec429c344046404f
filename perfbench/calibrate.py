#!/usr/bin/env python3
"""Compare the generated inputs with graft's sf0.1 test data.

    python3 perfbench/calibrate.py <sf0.1 directory> [--seed 1]

gen.py writes the benchmark's tables at a fraction of sf0.1's size, with
the shapes measured here. This prints each shape on sf0.1 and on the
tables gen.py writes for one seed, side by side, as a markdown table.
It is a tool for whoever changes gen.py; the benchmark does not run it.
"""
import argparse
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

STATS = [
    ("customers", "select count(*) from customer"),
    ("share of customers with events",
     "select count(distinct user_id) / (select count(*) from customer) from events"),
    ("events per active customer (p10, p50, p90)",
     "select quantile_cont(c, [0.1, 0.5, 0.9]) from "
     "(select count(*) c from events group by user_id)"),
    ("event value (p10, p50, p90)",
     "select quantile_cont(value, [0.1, 0.5, 0.9]) from events"),
    ("event days spanned", "select date_diff('day', min(ts), max(ts)) + 1 from events"),
    ("largest event-type share",
     "select max(c) / sum(c) from (select count(*) c from events group by event_type)"),
    ("negative balances", "select avg((c_acctbal < 0)::int) from customer"),
    ("balance (p25, p50, p75)",
     "select quantile_cont(c_acctbal, [0.25, 0.5, 0.75]) from customer"),
    ("line items", "select count(*) from lineitem"),
    ("line item price (min, max)",
     "select [min(l_extendedprice), max(l_extendedprice)] from lineitem"),
    ("line item ship dates",
     "select [min(l_shipdate)::date::varchar, max(l_shipdate)::date::varchar] from lineitem"),
    ("(returnflag, linestatus) groups",
     "select count(*) from (select distinct l_returnflag, l_linestatus from lineitem)"),
    ("documents", "select count(*) from documents"),
    ("words per document (p10, p50, p90)",
     "select quantile_cont(len(string_split(text, ' ')), [0.1, 0.5, 0.9]) from documents"),
    ("distinct words", "select count(distinct w) from "
     "(select unnest(string_split(text, ' ')) w from documents)"),
    ("exact-duplicate share", "select 1 - count(distinct text) / count(*) from documents"),
    ("near-duplicate share (an earlier text + ' dup')",
     "select avg((text like '% dup' and text[:-5] in (select text from documents))::int) "
     "from documents"),
    ("largest language share",
     "select max(c) / sum(c) from (select count(*) c from documents group by lang)"),
]


def fmt(v):
    if isinstance(v, list):
        return "(" + ", ".join(fmt(x) for x in v) + ")"
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def stats(tables):
    con = duckdb.connect(config={"threads": 2})
    for t in ("customer", "events", "lineitem", "documents"):
        con.execute(f"create view {t} as select * from "
                    f"read_parquet('{os.path.join(tables, t + '.parquet')}')")
    out = [fmt(con.sql(q).fetchone()[0]) for _, q in STATS]
    con.close()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf01")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    work = os.path.join(os.getcwd(), ".bench_build", "calibrate")
    shutil.rmtree(work, ignore_errors=True)
    gen.generate("query_families", a.seed, work)
    ref, ours = stats(a.sf01), stats(os.path.join(work, "tables"))
    shutil.rmtree(work, ignore_errors=True)
    print(f"| shape | sf0.1 | generated (seed {a.seed}) |\n|---|---|---|")
    for (name, _), r, o in zip(STATS, ref, ours):
        print(f"| {name} | {r} | {o} |")


if __name__ == "__main__":
    main()
