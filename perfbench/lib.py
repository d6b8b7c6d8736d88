"""Arithmetic behind the benchmark's reported numbers.

Call latency from the call loops' rounds, span self time, and the
comparison of a pass's output with its oracle. Kept free of I/O so `test_lib.py` can pin each rule.
"""
import math
import statistics
from collections import defaultdict

# Call latency is scaled to the speed at which the reference work after
# each round of calls (perfbench.Harness.Reference) takes this long: about
# its time on an uncontended core of a 4-core Xeon (Sapphire Rapids) guest.
REF_US = 1000.0


def call_latency(round_p50, round_p99, round_ref, samples):
    """Call latency from the rounds of the call loops: for p50 and p99, the
    median over the rounds of the round's percentile times REF_US over the
    time of the reference work that followed it on the same thread. A round
    the host slowed has its reference slowed alike, so the ratio holds. Also
    the unscaled medians and the round and sample counts."""
    n = len(round_p50)
    if n == 0 or len(round_p99) != n or len(round_ref) != n:
        raise ValueError(f"call rounds missing: {n} p50s, {len(round_p99)} p99s, {len(round_ref)} references")
    scaled = lambda xs: statistics.median(x * REF_US / r for x, r in zip(xs, round_ref))
    return {"rounds": n, "samples": samples, "p50": scaled(round_p50), "p99": scaled(round_p99),
            "raw_p50": statistics.median(round_p50), "raw_p99": statistics.median(round_p99)}


def self_times(spans):
    """{span id: self seconds}. A span's self time is its duration minus the
    part of its interval that its child spans cover (overlaps counted once)."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(c["start_ns"], lo), min(c["end_ns"], hi))
                     for c in children[s["id"]])
        covered, cur = 0, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            covered += cur[1] - cur[0]
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def self_time_by_name(spans):
    """For each span name: the median over runs of the name's summed self
    time within that run."""
    st = self_times(spans)
    per = defaultdict(lambda: defaultdict(float))
    for s in spans:
        per[s["name"]][s["run"]] += st[s["id"]]
    return {name: statistics.median(runs.values()) for name, runs in per.items()}


def differences(expected, actual, path=""):
    """Every leaf where `actual` differs from `expected`. At the top level
    only the keys of `expected` are compared (a summary also carries
    measurements); nested mappings must have the same keys. Numbers must be
    equal to 1e-9 relative."""
    if isinstance(expected, dict):
        if not isinstance(actual, dict):
            return [f"{path or '.'}: expected a mapping, got {actual!r}"]
        keys = set(expected) | set(actual) if path else set(expected)
        out = []
        for k in sorted(keys):
            if k not in actual:
                out.append(f"{path}/{k}: missing")
            elif k not in expected:
                out.append(f"{path}/{k}: unexpected {actual[k]!r}")
            else:
                out += differences(expected[k], actual[k], f"{path}/{k}")
        return out
    if isinstance(expected, bool) or isinstance(actual, bool):
        return [] if type(expected) is type(actual) and expected == actual else [f"{path}: {expected!r} != {actual!r}"]
    if isinstance(expected, (int, float)) and isinstance(actual, (int, float)):
        if math.isclose(expected, actual, rel_tol=1e-9, abs_tol=1e-12):
            return []
    elif expected == actual:
        return []
    return [f"{path}: {expected!r} != {actual!r}"]


def tally(passes, expected, run_checks):
    """(attempted, failed, reasons) over the passes of a run plus its
    once-per-run checks. A pass fails when it threw or when its summary
    differs from the oracle; a check fails when its value is not true."""
    attempted, failed, reasons = 0, 0, []
    for i, p in enumerate(passes):
        attempted += 1
        s = p["summary"]
        diff = [s["error"]] if "error" in s else differences(expected, s)
        if diff:
            failed += 1
            reasons.append(f"pass {i}: " + "; ".join(diff[:5]))
    for name, ok in run_checks.items():
        attempted += 1
        if ok is not True:
            failed += 1
            reasons.append(f"check {name}: {ok}")
    return attempted, failed, reasons


def spread(values):
    """Distance between the first and third quartiles as a share of the
    median, as `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
