"""Statistics over one run's raw record: medians, the tail percentile, and
span arithmetic (self time, driver gap) for the per-layer metrics."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """(value, percentile) at the highest percentile that leaves at least
    ten samples beyond it, never below the median. With n samples that is
    the 11th-largest value once n >= 21."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan")
    i = max(n - 11, n // 2)
    return s[i], 100.0 * (i + 1) / n


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def uncovered(start, end, intervals):
    """Length of [start, end] not covered by any of `intervals`."""
    return (end - start) - union_length(clip(intervals, start, end))


class Spans:
    """The traced run's spans, jobs and per-span task counters."""

    def __init__(self, export):
        self.spans = {s["id"]: s for s in export.get("spans", [])
                      if s["end"] is not None}
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs = {}
        for j in export.get("jobs", []):
            self.jobs.setdefault(j["span"], []).append(j)
        self.counters = {int(k): v for k, v in export.get("counters", {}).items()}

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x, []))
        return out

    def totals(self, sid):
        """Wall, self time, job and task counters of a span, its child spans'
        jobs included."""
        s = self.spans[sid]
        ids = self.subtree(sid)
        jobs = [j for x in ids for j in self.jobs.get(x, []) if j["end"] >= 0]
        kids = [(self.spans[c]["start"], self.spans[c]["end"])
                for c in self.children.get(sid, []) if c in self.spans]
        t = {"wall_s": (s["end"] - s["start"]) / 1000.0,
             "self_s": uncovered(s["start"], s["end"], kids) / 1000.0,
             "driver_gap_s": uncovered(s["start"], s["end"],
                                       [(j["start"], j["end"]) for j in jobs]) / 1000.0,
             "jobs": len(jobs), "calls": 1}
        task_ms = []
        for key in ("tasks", "cpu_ns", "shuffle_bytes", "spill_bytes",
                    "bytes_written", "records_read"):
            t[key] = sum(self.counters.get(x, {}).get(key, 0) for x in ids)
        for x in ids:
            task_ms.extend(self.counters.get(x, {}).get("task_ms", []))
        t["cpu_s"] = t.pop("cpu_ns") / 1e9
        med = median(task_ms)
        t["task_skew"] = max(task_ms) / med if task_ms and med > 0 else 1.0
        return t

    def per_trace(self, name):
        """Totals of every span called `name`, summed per trace id (one
        batch or pass), as a list over traces."""
        by_trace = {}
        for sid, s in self.spans.items():
            if s["name"] != name:
                continue
            t = self.totals(sid)
            acc = by_trace.setdefault(s["trace"], {})
            for k, v in t.items():
                if k == "task_skew":
                    acc[k] = max(acc.get(k, 0.0), v)
                else:
                    acc[k] = acc.get(k, 0) + v
        return list(by_trace.values())


def median_of(rows, key):
    return median([r[key] for r in rows])
