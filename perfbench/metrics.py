"""The benchmark's arithmetic: percentiles, rates, span self time, and the
metric tables built from a harness run's raw records."""
import math
import statistics

# Candidate percentiles, highest first; a percentile is reported only when
# at least TAIL_SAMPLES samples lie beyond it.
PERCENTILES = (99, 95, 90, 75, 50)
TAIL_SAMPLES = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def supported_percentile(n):
    """The highest candidate percentile with TAIL_SAMPLES samples beyond it
    in a run of n samples, or None."""
    for p in PERCENTILES:
        if n * (100 - p) / 100.0 >= TAIL_SAMPLES:
            return p
    return None


def rate(count, seconds):
    return count / seconds if seconds > 0 else 0.0


def etl_rows_per_s(fact_rows, build_seconds):
    """ELT fact rows over the seconds of the run's one fresh build (the
    set-up build of a cold JVM: staging, dims, caches and the fact load)."""
    return rate(fact_rows, build_seconds)


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Span id -> self time: the span's duration minus the part of it its
    children cover. Spans are (id, name, start, end, parent, op) tuples."""
    children = {}
    for sp in spans:
        children.setdefault(sp[4], []).append(sp)
    out = {}
    for sp in spans:
        sid, _, start, end = sp[0], sp[1], sp[2], sp[3]
        kids = [(max(c[2], start), min(c[3], end)) for c in children.get(sid, [])
                if c[3] > start and c[2] < end]
        out[sid] = (end - start) - union_length(kids)
    return out


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def ms(ns):
    return ns / 1e6


# ------------------------------------------------------------ metric tables

TIMED_KINDS = ("query", "call")


def timed_ops(raw, traced=None):
    ops = [o for o in raw["ops"] if not o["setup"] and o["kind"] in TIMED_KINDS]
    if traced is not None:
        ops = [o for o in ops if o["traced"] == traced]
    return ops


def window_seconds(raw, ops):
    """From the timed start to the last op's end."""
    start = raw["timed_start_ns"]
    return max(o["start_ns"] + o["dur_ns"] for o in ops) / 1e9 - start / 1e9


def template_p50_gmean(ops):
    """Geometric mean over templates of each template's median latency (ms),
    an even count's median being the mean of its middle two: every template
    weighs the same however often the run's whole blocks hold it."""
    by = {}
    for o in ops:
        by.setdefault(o["template"], []).append(ms(o["dur_ns"]))
    return math.exp(mean(math.log(statistics.median(v)) for v in by.values()))


def end_to_end(raw, launch_epoch):
    ops = timed_ops(raw)
    return {
        "setup_s": (raw["timed_start_epoch"] - launch_epoch, "s"),
        "tpl_p50_gmean_ms": (template_p50_gmean(ops), "ms"),
        "ops_per_s": (rate(len(ops), window_seconds(raw, ops)), "1/s"),
        "peak_rss_mb": (raw["counters"]["peak_rss_mb"], "MB"),
    }


def report(raw, workload, e2e, attempted, failed):
    """The workload-specific end-to-end figures, by name and unit."""
    ops = timed_ops(raw)
    c = raw["counters"]
    out = {"setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"],
           "failed_ratio": (failed / attempted, "ratio")}

    def pct(name, values):
        out[f"{name}_samples"] = (len(values), "count")
        out[f"{name}_p50_ms"] = (statistics.median(values), "ms")
        tail = supported_percentile(len(values))
        if tail and tail > 50:
            out[f"{name}_p{tail}_ms"] = (percentile(values, tail), "ms")

    if "etl_fact_rows" in c:
        out["etl_rows_per_s"] = (etl_rows_per_s(c["etl_fact_rows"], c["etl_seconds"]), "rows/s")
    if workload == "dashboard_mix":
        pct("query", [ms(o["dur_ns"]) for o in ops])
        out["queries_per_s"] = e2e["ops_per_s"]
    elif workload == "corpus_curation":
        passes = {}
        for o in ops:
            passes.setdefault(o["pass"], []).append(o)
        per = len({o["template"] for o in ops})
        full = [p for p in passes.values() if len(p) == per]
        secs = sum(sum(o["dur_ns"] for o in p) for p in full) / 1e9
        out["docs_per_s"] = (rate(c["docs"] * len(full), secs), "docs/s")
    return out
