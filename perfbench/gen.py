"""Seeded inputs for the graft benchmark.

Everything a workload reads is written here, by this file alone, so a
change to graft cannot change its own inputs: the parquet tables the
workloads read (`customer`, `events`, `lineitem`, `documents`) and the
daily delivery files of the ETL month (`;`-delimited text with decimal
commas, and xlsx). The same seed gives byte-identical inputs.

The tables follow the make-up of graft's sf0.1 test data, scaled down to
fit a run: the same columns, value ranges and shapes (a tenth of the
customers have events, about 67 events each over January; event values
exponential around 50; documents of 10 to 100 words from sf0.1's
30-word vocabulary, one in twenty a copy of another with " dup"
appended). `perfbench/calibrate.py` measures these shapes on sf0.1 and on
the generated tables side by side. The run reads only its own checkout,
so it cannot sample sf0.1 itself.

Sizes are fixed per mode; the seed only changes values, never counts,
so every seed gives a run the same amount of work.
"""
import datetime as dt
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (full, small) sizes: sf0.1 has 15,000 customers, 1,500 of them with
# 100,000 events, 600,000 line items and 5,000 documents. The small mode
# runs every workload end to end in about a minute, for the benchmark's
# own tests.
SIZES = {
    "full": dict(customers=1500, users=150, events=10000, lineitems=12000,
                 documents=500, days=3, blacklist=120),
    "small": dict(customers=150, users=15, events=1000, lineitems=6000,
                  documents=200, days=3, blacklist=30),
}

# per business day, as shares of the live customer count
CHANGE_RATE = 0.04      # balance changes
DROP_RATE = 0.01        # keys that disappear from the snapshot
NEW_RATE = 0.01         # keys seen for the first time
REVIVE_SHARE = 0.5      # of the keys dropped so far, share that come back
INITIAL_SHARE = 0.8     # share of customers in the first snapshot

# the shapes measured on sf0.1 (perfbench/calibrate.py)
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
DOC_WORDS = (10, 100)   # words per document, uniform
NEAR_DUP_SHARE = 0.05   # copies of an earlier document with " dup" appended
EXACT_DUP_SHARE = 0.0016
LANGS = (["en", "de", "fr", "es", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15])
EVENT_VALUE_MEAN = 50.0
SHIP_DAYS = (np.datetime64("1995-01-02", "D"), np.datetime64("2001-11-04", "D"))
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
JAN = dt.datetime(2024, 1, 1)


def business_days(n):
    """n consecutive business days of January 2024 from Thursday the 4th:
    the fraud mart's report starts after 5 January, so the month's first
    days bootstrap an empty mart and the later ones accumulate it."""
    out, d = [], dt.date(2024, 1, 4)
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def customers(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n)]),
    })


def events(rng, n, users):
    """Events over January 1-30, uniform in time and over the first
    `users` customers, as in sf0.1."""
    span = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span, n))
    base = np.datetime64(JAN, "us")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(base + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(EVENT_VALUE_MEAN, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem(rng, n):
    """Line items with sf0.1's ranges; flags and ship dates independent."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = int((SHIP_DAYS[1] - SHIP_DAYS[0]) / np.timedelta64(1, "D")) + 1
    ship = SHIP_DAYS[0] + rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20000, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})


def texts(rng, n):
    """Word-salad documents as in sf0.1: fixed numbers of near duplicates
    (an earlier text plus " dup") and exact duplicates, at random places."""
    lo, hi = DOC_WORDS
    kind = np.zeros(n, dtype=np.int8)
    n_near = int(round(n * NEAR_DUP_SHARE))
    n_exact = max(1, int(round(n * EXACT_DUP_SHARE)))
    picks = rng.choice(np.arange(1, n), n_near + n_exact, replace=False)
    kind[picks[:n_near]] = 1
    kind[picks[n_near:]] = 2
    out = []
    for i in range(n):
        if kind[i] == 0:
            k = int(rng.integers(lo, hi + 1))
            out.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
        else:
            src = out[int(rng.integers(0, i))]
            out.append(src + " dup" if kind[i] == 1 else src)
    return out


def documents(rng, n):
    t = texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": t,
        "lang": [LANGS[0][i] for i in rng.choice(len(LANGS[0]), n, p=LANGS[1])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array(np.array([len(x) for x in t], dtype=np.int64))})


def decimal_comma(x):
    return f"{x:.2f}".replace(".", ",")


def xlsx(path, header, rows):
    """A minimal workbook: one sheet, shared strings, the OOXML part set."""
    strings = {}

    def sid(s):
        return strings.setdefault(s, len(strings))

    def ref(c, r):
        return f"{chr(ord('A') + c)}{r}"

    sheet_rows = []
    for r, row in enumerate([header] + rows, start=1):
        cells = "".join(f'<c r="{ref(c, r)}" t="s"><v>{sid(v)}</v></c>'
                        for c, v in enumerate(row))
        sheet_rows.append(f'<row r="{r}">{cells}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="{ns}" '
            f'xmlns:r="{rel}"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet xmlns="{ns}">'
            f'<sheetData>{"".join(sheet_rows)}</sheetData></worksheet>',
    }
    ordered = sorted(strings, key=strings.get)
    parts["xl/sharedStrings.xml"] = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst xmlns="{ns}" '
        f'count="{len(ordered)}" uniqueCount="{len(ordered)}">'
        + "".join(f"<si><t>{escape(s)}</t></si>" for s in ordered) + "</sst>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            z.writestr(info, body)


def deliveries(rng, out, cust, s):
    """A month of daily deliveries. Per day: a full customer snapshot for
    the SCD2 table (balance changes, disappearances, revivals, new keys,
    in fixed numbers) and the passport blacklist for the SCD1 table."""
    n = cust.num_rows
    keys = cust.column("c_custkey").to_numpy()
    names = cust.column("c_name").to_pylist()
    nations = cust.column("c_nationkey").to_numpy()
    segs = cust.column("c_mktsegment").to_pylist()
    bal = cust.column("c_acctbal").to_numpy().copy()
    order = rng.permutation(n)
    n0 = int(n * INITIAL_SHARE)
    live = set(order[:n0].tolist())
    unseen = order[n0:].tolist()
    dropped = []
    blacklist = {}
    next_passport = 0
    days = business_days(s["days"])
    for i, day in enumerate(days):
        if i > 0:
            nlive = len(live)
            k = int(nlive * CHANGE_RATE)
            for c in rng.choice(sorted(live), k, replace=False):
                bal[c] = round(bal[c] + float(rng.uniform(-500, 500)), 2)
            nrev = int(len(dropped) * REVIVE_SHARE)
            revived = dropped[:nrev]
            dropped = dropped[nrev:]
            gone = rng.choice(sorted(live), int(nlive * DROP_RATE), replace=False).tolist()
            for c in gone:
                live.discard(c)
            dropped += gone
            live.update(revived)
            fresh, unseen = unseen[:int(nlive * NEW_RATE)], unseen[int(nlive * NEW_RATE):]
            live.update(fresh)
        folder = os.path.join(out, "deliveries", day.isoformat())
        os.makedirs(folder, exist_ok=True)
        stamp = day.strftime("%d%m%Y")
        with open(os.path.join(folder, f"customers_{stamp}.txt"), "w", encoding="utf-8") as f:
            f.write("c_custkey;c_name;c_nationkey;c_acctbal;c_mktsegment\n")
            for c in sorted(live):
                f.write(f"{keys[c]};{names[c]};{nations[c]};{decimal_comma(bal[c])};{segs[c]}\n")
        # blacklist: a third of the entries are re-sent (a few with a new
        # client), the rest are new passports
        resend = sorted(blacklist)[: s["blacklist"] // 3] if blacklist else []
        rows = []
        for j, p in enumerate(resend):
            if j % 5 == 0:
                blacklist[p] = (int(rng.integers(0, n)), day.isoformat())
            rows.append([p, str(blacklist[p][0]), blacklist[p][1]])
        for _ in range(s["blacklist"] - len(resend)):
            p = f"{4000 + next_passport // 1000000:04d} {next_passport % 1000000:06d}"
            next_passport += 1 + int(rng.integers(0, 50))
            blacklist[p] = (int(rng.integers(0, n)), day.isoformat())
            rows.append([p, str(blacklist[p][0]), blacklist[p][1]])
        xlsx(os.path.join(folder, f"passport_blacklist_{stamp}.xlsx"),
             ["passport", "client_id", "entry_dt"], rows)
    return days




# The query families, one or two registered queries each: graft's core
# relational surface, SCD merges, the fraud report, the native as-of
# join, the LSH dedup engine (whose verified pairs are a session memo),
# and corpus decontamination. The corpus family also runs graft's
# curation pipeline (CorpusPipeline, on the `corpus/` splits).
FAMILIES = {
    "core": ["q01_pricing_summary"],
    "scd": ["q14_scd2_merge"],
    "fraud": ["q20_fraud_report"],
    "asof": ["q160_asof_native"],
    "dedup": ["q72_dedup_lsh_verified"],
    "corpus": ["q76_decontaminate"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
EVAL_SHARE = 1 / 11     # the held-out eval slice, as q76's doc_id % 11


def corpus_splits(rng, docs, out):
    """A seeded eval slice of the documents (so that CorpusPipeline's
    decontamination runs) and the rest, which `curate` curates."""
    n = docs.num_rows
    order = rng.permutation(n)
    n_eval = int(round(n * EVAL_SHARE))
    for name, idx in (("eval", order[:n_eval]), ("train", order[n_eval:])):
        write(docs.take(pa.array(np.sort(idx))),
              os.path.join(out, "corpus", name, "documents.parquet"))


def generate(workload, seed, out, mode="full"):
    """Write the inputs of one workload under `out`; return the plan the
    JVM side reads (`plan.properties`)."""
    s = SIZES[mode]
    rng = np.random.default_rng([seed, 7])
    plan = {}
    tables = os.path.join(out, "tables")
    cust = customers(rng, s["customers"])
    write(cust, os.path.join(tables, "customer.parquet"))
    write(events(rng, s["events"], s["users"]), os.path.join(tables, "events.parquet"))
    plan["tables"] = "tables/customer.parquet,tables/events.parquet"
    if workload == "etl_month":
        days = deliveries(rng, out, cust, s)
        plan["days"] = ",".join(d.isoformat() for d in days)
        plan["oracle"] = "q20_fraud_report"
    elif workload == "query_families":
        write(lineitem(rng, s["lineitems"]), os.path.join(tables, "lineitem.parquet"))
        docs = documents(rng, s["documents"])
        write(docs, os.path.join(tables, "documents.parquet"))
        corpus_splits(rng, docs, out)
        plan["queries"] = ",".join(QUERIES)
        plan["oracle"] = ",".join(QUERIES)
        plan["tables"] += ",tables/lineitem.parquet,tables/documents.parquet"
    with open(os.path.join(out, "plan.properties"), "w") as f:
        for k, v in plan.items():
            f.write(f"{k}={v}\n")
    return plan
