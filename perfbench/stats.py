"""Statistics of one benchmark run: tail selection, failure counting,
tracing overhead, span self time and attribution of Spark events to
spans."""
import bisect
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """The highest nearest-rank percentile with at least ten samples beyond
    it: (percentile, value, samples beyond). Below twenty samples that
    percentile would sit under the median, which is no tail; the maximum
    is reported then, with zero samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return (100.0, 0.0, 0)
    rank = n - 10  # 1-based nearest rank; n - rank samples lie beyond it
    if n < 20:
        return (100.0, xs[-1], 0)
    return (100.0 * rank / n, xs[rank - 1], n - rank)


def count_failures(ops, run_errors=()):
    """(attempted, failed). An op fails when it raised or its output check
    failed. A failed whole-run check (a store that no longer equals its
    one-shot rebuild) fails every op that wrote to it."""
    attempted = len(ops)
    if run_errors:
        return attempted, attempted
    return attempted, sum(1 for o in ops if o.get("error"))


def overhead(traced, untraced):
    """Tracing overhead per op: traced minus untraced median op time, per
    op kind (the same parameters: nprobe, k and filter for a vector
    query), averaged over the kinds that ran both ways. Traced ops carry
    the spans and the attached listeners; untraced ones neither."""
    def by_kind(ops):
        out = {}
        for o in ops:
            out.setdefault(o["kind"], []).append((o["end_ms"] - o["start_ms"]) / 1000)
        return out
    t, u = by_kind(traced), by_kind(untraced)
    diffs = [median(t[k]) - median(u[k]) for k in t if k in u]
    return sum(diffs) / len(diffs) if diffs else 0.0


def self_times(spans):
    """{span id: duration minus the part of it covered by child spans}.
    `spans` are (id, parent, name, start, end) tuples; children may overlap
    each other and are clipped to their parent."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {}
    for sid, _, _, start, end in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for _, _, _, cs, ce in sorted(kids.get(sid, []), key=lambda c: c[3]):
            cs, ce = max(cs, start), min(ce, end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out


class SpanIndex:
    """Finds the innermost span open at a given time."""

    def __init__(self, spans):
        self.by_id = {s[0]: s for s in spans}
        self.spans = sorted(spans, key=lambda s: s[3])
        self.starts = [s[3] for s in self.spans]

    def innermost(self, t):
        # spans on the single client thread nest, so the latest-starting
        # span still open at t is the innermost one
        for s in reversed(self.spans[:bisect.bisect_right(self.starts, t)]):
            if t <= s[4]:
                return s
        return None

    def ancestors(self, s):
        while s is not None:
            yield s
            s = self.by_id.get(s[1])


def attribute(spans, jobs, stages, plans):
    """Per-span Spark counters: each job goes to the innermost span open
    when it started, its stages' task aggregates with it, and each planned
    query to the span open when its planning started. Counts are inclusive:
    a span also carries its descendants' counters."""
    idx = SpanIndex(spans)
    keys = ("jobs", "tasks", "failed_tasks", "task_ms", "shuffle_write",
            "shuffle_read", "spill", "input", "output", "plan_ms")
    acc = {}

    def add(s, **kv):
        for a in idx.ancestors(s):
            d = acc.setdefault(a[0], dict.fromkeys(keys, 0))
            for k, v in kv.items():
                d[k] += v

    for job_id, t, stage_ids in jobs:
        s = idx.innermost(t)
        if s is None:
            continue
        add(s, jobs=1)
        for sid in stage_ids:
            a = stages.get(str(sid))
            if a:
                add(s, tasks=a[0], failed_tasks=a[1], task_ms=a[2],
                    shuffle_write=a[3], shuffle_read=a[4], spill=a[5],
                    input=a[6], output=a[7])
    for t, ms in plans:
        s = idx.innermost(t)
        if s is not None:
            add(s, plan_ms=ms)
    return acc
