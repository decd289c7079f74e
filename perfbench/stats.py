"""The benchmark's arithmetic: percentiles, span self time and gaps,
and failure counting. Unit-tested in `perfbench/tests`."""
import math
import statistics


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between
    closest ranks, with the sample count: (value, n). (nan, 0) if empty."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return math.nan, 0
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return percentile(values, 50)[0]


def query_medians(samples):
    """Each query's median latency over its (query, latency) samples.
    Batch percentiles are taken over these, one value per query, so that
    one slow sample of one query does not decide the tail."""
    by_query = {}
    for q, v in samples:
        by_query.setdefault(q, []).append(v)
    return [median(v) for _, v in sorted(by_query.items())]


def spread(values):
    """Interquartile range as a share of the median, with the quartiles
    of statistics.quantiles(values, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


def covered(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if e <= s:
            continue
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
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - covered(children, s, e)


STAGE_FIELDS = (("scheduler.tasks", "tasks"), ("exec.cpu_s", "cpu_ns"), ("exec.task_ms", "task_ms"),
                ("exec.gc_ms", "gc_ms"), ("exec.spill_bytes", "spill_bytes"),
                ("shuffle.write_bytes", "shuffle_write_bytes"),
                ("shuffle.read_bytes", "shuffle_read_bytes"),
                ("shuffle.records", "shuffle_write_records"),
                ("shuffle.fetch_wait_ms", "fetch_wait_ms"),
                ("sources.input_bytes", "input_bytes"), ("sources.input_rows", "input_rows"),
                ("sources.output_bytes", "output_bytes"))


def stage_sums(stages):
    """Per-layer totals over completed stages (task metrics, summed)."""
    out = {k: sum(st[f] for st in stages) for k, f in STAGE_FIELDS}
    out["exec.cpu_s"] /= 1e9
    return out


class Tally:
    """Operations attempted and failed, with the reasons for failures."""

    def __init__(self):
        self.attempted = 0
        self.failures = []

    def add(self, ok, what=""):
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    def fail(self, what, count=1):
        """Failed operations counted elsewhere as attempted."""
        self.failures.extend([what] * count)

    @property
    def failed(self):
        return len(self.failures)

    @property
    def ratio(self):
        return self.failed / self.attempted if self.attempted else 0.0
