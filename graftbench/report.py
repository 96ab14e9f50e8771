"""Reporting helpers: the percentile rule, span self time, and the
per-layer metrics derived from a traced run's records."""
import statistics

# the percentiles a tail may be reported at, highest last
TAIL_CANDIDATES = (50, 75, 90, 95, 99, 99.9)


def percentile(values, p):
    """Nearest-rank percentile of ``values`` (p in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100), at least 1
    return xs[int(k) - 1]


def tail_percentile(n):
    """The highest candidate percentile with at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in TAIL_CANDIDATES:
        if round(n * (100 - p) / 100, 9) >= 10:  # 100 - 99.9 is inexact
            best = p
    return best


def summarize(values):
    """Median, the rule's tail percentile and the sample count. With
    fewer than 20 samples no percentile above the median qualifies, so
    the tail is reported at the median (and says so)."""
    n = len(values)
    p50 = statistics.median(values)
    p = tail_percentile(n)
    if p is None or p == 50:
        return {"n": n, "p50": p50, "tail_p": 50, "tail": p50}
    return {"n": n, "p50": p50, "tail_p": p, "tail": percentile(values, p)}


def union_length(intervals, lo=None, hi=None):
    """Total length covered by ``intervals`` ((start, end) pairs),
    optionally clipped to [lo, hi]."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children
    cover (overlapping children are counted once)."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def layer_metrics(records):
    """Per-layer metrics (seconds, counts, ratios) of a traced run.
    Engine-side metrics come from the measured phase; the stage
    decomposition (query_suite's traced run) from its own phase."""
    spans = [r for r in records if r["kind"] == "span"]
    jobs = [r for r in records if r["kind"] == "job"]
    stages = [r for r in records if r["kind"] == "stage"]
    counters = {}
    for r in records:
        if r["kind"] == "counter":
            counters.setdefault(r["phase"], {})[r["name"]] = r["value"]
    m = {}
    mspans = [s for s in spans if s["phase"] == "measure"]
    mjobs = [j for j in jobs if j["phase"] == "measure"]
    mstages = [s for s in stages if s["phase"] == "measure"]
    ops = [s for s in mspans if s["parent"] == 0]
    construct = [s for s in mspans if s["name"] == "construct"]
    construct_ids = {s["id"] for s in construct}

    m["construct.s"] = sum(s["end"] - s["start"] for s in construct) / 1e3
    m["construct.jobs"] = sum(1 for j in mjobs if j["parent"] in construct_ids)
    # the measure phase's counters are written when it is left
    after = counters.get("measure", {})
    before = counters.get("setup", {})
    m["plan.s"] = after.get("plan.s", 0.0)
    m["codegen.compiles"] = after.get("codegen.count", 0.0) - before.get(
        "codegen.count", 0.0)
    m["codegen.ms_mean"] = after.get("codegen.ms_mean", 0.0)

    m["exec.jobs"] = len(mjobs)
    m["exec.stages"] = len(mstages)
    for k, src in (("exec.tasks", "tasks"), ("exec.task_s", "task_s"),
                   ("exec.cpu_s", "cpu_s"), ("exec.gc_s", "gc_s"),
                   ("exec.task_wait_s", "wait_s"),
                   ("exec.input_records", "input_records"),
                   ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
                   ("exec.shuffle_read_records", "shuffle_read_records"),
                   ("exec.spill_bytes", "spill_bytes")):
        m[k] = sum(s[src] for s in mstages)
    m["exec.busy_s"] = union_length(
        [(j["start"], j["end"]) for j in mjobs]) / 1e3
    m["exec.skew"] = max((s["task_max_s"] / s["task_median_s"]
                          for s in mstages
                          if s["tasks"] >= 2 and s["task_median_s"] > 0),
                         default=1.0)

    # driver gap: each operation's self time, its children being its
    # construction spans and the jobs launched outside them
    gap, gap_jobs = 0.0, 0
    for o in ops:
        oj = [j for j in mjobs if j["op"] == o["op"]
              and j["parent"] not in construct_ids]
        gap += self_time(o, [s for s in construct if s["op"] == o["op"]] + oj)
        gap_jobs += len(oj)
    m["driver.gap_s"] = gap / 1e3
    m["driver.gap_per_job_ms"] = gap / gap_jobs if gap_jobs else 0.0

    def dspan(name):
        xs = [s for s in spans if s["phase"] == "decompose"
              and s["name"] == name]
        return (sum(s["end"] - s["start"] for s in xs) / len(xs) / 1e3
                if xs else 0.0)

    if any(s["name"] == "sync" for s in spans):
        for name in ("tables.events", "changelog.normalize", "cdcmerge.merge",
                     "cdcmerge.apply", "ledger.state", "ledger.ack",
                     "ledger.alerts"):
            m[name + "_s"] = dspan(name)

        def stages_under(name):
            ids = {s["id"] for s in spans if s["name"] == name}
            jids = {j["id"] for j in jobs if j["parent"] in ids}
            return [s for s in stages if s["job"] in jids]
        m["cdcmerge.hot_task_ratio"] = max(
            (s["task_max_s"] / s["task_median_s"]
             for s in stages_under("cdcmerge.apply")
             if s["tasks"] >= 2 and s["task_median_s"] > 0), default=1.0)
        # each sync pass runs Pipeline.run once over its batch of changes
        changes = sum(r["value"] for r in records if r["kind"] == "counter"
                      and r["name"] == "sync.changes")
        read = sum(s["input_records"] for s in stages_under("pipeline.run"))
        m["pipeline.events_scans"] = read / changes if changes else 0.0
    if any(s["name"] == "training" for s in spans):
        gate, sh = dspan("textanalysis.gate"), dspan("dedup.shingle")
        sig, ver = dspan("dedup.signature"), dspan("dedup.verify")
        m["textanalysis.gate_s"] = gate
        m["dedup.shingle_s"] = sh
        # the chain's public entry points each rerun its prefix, so a
        # stage's own time is the difference of consecutive prefixes
        m["dedup.signature_s"] = max(0.0, sig - sh)
        m["dedup.verify_s"] = max(0.0, ver - sig)
        m["training.manifest_s"] = dspan("training.manifest")
        dc = counters.get("decompose", {})
        cand = dc.get("dedup.candidate_pairs", 0.0)
        verified = dc.get("dedup.verified_pairs", 0.0)
        m["dedup.candidate_pairs"] = cand
        m["dedup.verified_pairs"] = verified
        m["dedup.pair_yield"] = verified / cand if cand else 0.0
    m["trace.spans"] = len(spans)
    return m
