"""Per-layer metrics, derived from a traced run's spans and Spark jobs.

The harness records a span around every call it makes into a layer
(`spans.jsonl`) and, when traced, every Spark job with the span open at
its submission and the graft frames of its call site (`jobs.jsonl`).
A job belongs to its span and to each of that span's ancestors. Layers
below the benchmark's own calls (SCD merges, the fraud mart, the dedup
operators, graft's table sources) are told apart by the graft frames on
the job's call site. Every metric is reported on every workload; a layer
the workload does not reach reads 0.
"""
import json
import os
import statistics

from gen import FAMILIES

MB = 1e6


def _jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _covered_ms(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in cut:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Trace:
    def __init__(self, work):
        self.spans = {s["id"]: s for s in _jsonl(os.path.join(work, "spans.jsonl"))}
        self.jobs = _jsonl(os.path.join(work, "jobs.jsonl"))
        self.under = {}  # span id -> jobs submitted inside it or its children
        for j in self.jobs:
            s = j["span"]
            while s in self.spans:
                self.under.setdefault(s, []).append(j)
                s = self.spans[s]["parent"]

    def named(self, prefix):
        return [s for s in self.spans.values() if s["name"].startswith(prefix)]

    def jobs_in(self, spans):
        return [j for s in spans for j in self.under.get(s["id"], [])]


def _job_s(jobs):
    return sum(j["end"] - j["start"] for j in jobs) / 1e3


def _frames(j, *names):
    return any(n in j["frames"] for n in names)


def per_layer(workload, ops, work):
    t = Trace(work)
    m = {}

    # graft.queries: construction, per family, and the layers below
    for p in ("cold", "warm"):
        qops = [o for o in ops if o["kind"] == f"query.{p}"]
        # per pass: a round has one cold pass and two warm ones
        rounds = max(1, len(qops) // max(1, len({o["name"] for o in qops})))
        passes = t.named(f"query.{p}.")
        construct = [c for c in t.named("queries.construct")
                     if t.spans.get(c["parent"], {}).get("name", "").startswith(f"query.{p}.")]
        m[f"queries.construct_s.{p}"] = (sum(o["construct"] for o in qops) / rounds, "s")
        m[f"queries.construct_jobs.{p}"] = (len(t.jobs_in(construct)) / rounds, "count")
        for f, qs in FAMILIES.items():
            # the corpus family also holds the cold pass's `curate`
            fops = [o for o in qops if o["name"] in qs] + (
                [o for o in ops if o["kind"] == f"corpus.{p}"] if f == "corpus" else [])
            m[f"queries.{f}.{p}_s"] = (sum(o["s"] for o in fops) / rounds, "s")
        # analysis, optimization and planning, from QueryExecution's tracker
        m[f"catalyst.plan_s.{p}"] = (sum(o["phases"] for o in qops) / rounds, "s")
        m[f"exec.s.{p}"] = (sum(o["exec"] for o in qops) / rounds, "s")
        if p == "warm":
            ex = [e for e in t.named("exec.materialize")
                  if any(e["op"] == q["op"] for q in passes)]
            jobs = t.jobs_in(ex)
            m["exec.jobs.warm"] = (len(jobs) / rounds, "count")
            m["exec.tasks.warm"] = (sum(j["tasks"] for j in jobs) / rounds, "count")
            m["exec.shuffle_mb.warm"] = (sum(j["shuffle_write"] for j in jobs) / MB / rounds, "MB")
            m["exec.spill_mb.warm"] = (
                sum(j["mem_spill"] + j["disk_spill"] for j in jobs) / MB / rounds, "MB")
    qrounds = max(1, len({o["round"] for o in ops if o["kind"].startswith("query.")}))
    m["sources.schema_jobs"] = (
        sum(1 for j in t.jobs_in(t.named("query.")) if _frames(j, "graft.sources.Tables"))
        / qrounds, "count")

    # graft.pipeline.EtlPipeline, per business day
    days = t.named("etl.day")
    per_day = {k: [] for k in ("jobs", "driver_only", "stage", "scd", "mart")}
    for d in days:
        jobs = t.under.get(d["id"], [])
        per_day["jobs"].append(len(jobs))
        span_ms = d["end"] - d["start"]
        per_day["driver_only"].append(
            (span_ms - _covered_ms([(j["start"], j["end"]) for j in jobs], d["start"], d["end"]))
            / 1e3)
        run = [s for s in t.named("pipeline.run") if s["parent"] == d["id"]]
        per_day["stage"].append(_job_s(
            [j for j in t.jobs_in(run)
             if _frames(j, "graft.sources.DelimitedSource", "graft.sources.XlsxSource")
             or j["site"].startswith("count at EtlPipeline")]))
        per_day["scd"].append(_job_s([j for j in jobs if _frames(j, "EtlPipeline$.mergeInto")]))
        marts = [s for s in t.named("pipeline.refresh_marts") if s["parent"] == d["id"]]
        per_day["mart"].append(_job_s(
            [j for j in t.jobs_in(marts) if not _frames(j, "graft.sources.Compaction")]))
    calls = {k: [o for o in ops if o["kind"] == k] for k in ("run", "from_tables", "refresh_marts")}
    for k, v in calls.items():
        m[f"pipeline.{k}_s"] = (_median([o["s"] for o in v]), "s")
    m["pipeline.jobs_per_day"] = (_median(per_day["jobs"]), "count")
    m["pipeline.driver_only_s"] = (_median(per_day["driver_only"]), "s")
    m["sources.stage_s"] = (_median(per_day["stage"]), "s")
    m["scd.merge_s"] = (_median(per_day["scd"]), "s")
    m["fraudmart.increment_s"] = (_median(per_day["mart"]), "s")
    eops = [o for k in calls for o in calls[k]]
    erounds = max(1, len({o["round"] for o in eops}))
    files = {}
    for o in eops:
        files[(o["round"], o["name"])] = files.get((o["round"], o["name"]), 0) + o["files"]
    m["pipeline.files_written_per_day"] = (_median(list(files.values())), "count")
    # bytes written by the month alone, as in the end-to-end written_mb
    month = [o for o in eops if "_empty/" not in o["name"]]
    groups = {"dim": ("dim_",), "fact": ("fact_",), "mart": ("mart_",), "bookkeeping": ("etl_",)}
    for g, prefixes in groups.items():
        m[f"pipeline.written_mb.{g}"] = (
            sum(v for o in month for k, v in o.items()
                if k.startswith("bytes.") and k[len("bytes."):].startswith(prefixes))
            / MB / erounds, "MB")
    m["sources.compactions"] = (
        sum(o.get("compactions", 0) for o in eops) / erounds, "count")

    # graft.operators.Dedup and Similarity, wherever they run
    dedup = [j for j in t.jobs if _frames(j, "graft.operators.Dedup", "graft.operators.Similarity")]
    rounds = max(1, len({o["round"] for o in ops if o["round"] > 0}))
    m["dedup.job_s"] = (_job_s(dedup) / rounds, "s")
    m["dedup.jobs"] = (len(dedup) / rounds, "count")
    # graft.operators.Decontaminate builds a lazy plan, so its jobs carry
    # no frame of its own: they are those of q76, which is that operator
    # over the documents and nothing else
    decontam = [s for s in t.spans.values() if s["name"].endswith(".q76_decontaminate")]
    m["decontam.job_s"] = (_job_s(t.jobs_in(decontam)) / rounds, "s")

    # graft.pipeline.CorpusPipeline, per corpus operation
    calls = t.named("corpus.")
    n = max(1, len(calls))
    jobs = t.jobs_in(calls)
    m["corpus.pipeline_job_s"] = (_job_s(jobs) / n, "s")
    idle_ms = [c["end"] - c["start"] - _covered_ms(
        [(j["start"], j["end"]) for j in t.under.get(c["id"], [])], c["start"], c["end"])
        for c in calls]
    m["corpus.driver_only_s"] = (sum(idle_ms) / 1e3 / n, "s")
    m["corpus.shuffle_mb"] = (sum(j["shuffle_write"] for j in jobs) / MB / n, "MB")
    m["corpus.spill_mb"] = (sum(j["mem_spill"] + j["disk_spill"] for j in jobs) / MB / n, "MB")
    return m
