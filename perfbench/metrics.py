"""Turns the JVM's raw record into the benchmark's metrics.

Kept free of I/O so `selftest.py` can check each rule on fixed inputs:
the percentile rule, call-site attribution and open-loop lateness.
"""
import math
import re

# A tail percentile is reported only where at least this many samples lie
# beyond it.
TAIL_SAMPLES = 10
PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def percentile(values, p):
    """Linear-interpolated percentile of `values` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def highest_supported_percentile(n):
    """The highest of PERCENTILES with at least TAIL_SAMPLES samples beyond
    it among `n`, or None when even the median lacks them."""
    best = None
    for p in PERCENTILES:
        if round(n * (100 - p) / 100.0, 9) >= TAIL_SAMPLES:
            best = p
    return best


def median(values):
    return percentile(values, 50)


# ---- call-site attribution -------------------------------------------------

# (graft frame, innermost Spark API frame or None, phase). A job's call site
# lists frames innermost first; its graft frames are tried innermost first
# and the first rule that matches names the phase, so a generic helper such
# as ParquetStateStore.commit falls through to the method that called it.
RULES = [
    ("graft.streaming.ChangeRelay.defaultHorizon", None, "ops.horizon_probe_s"),
    ("graft.ops.Windows.numberBatchesRange", None, "ops.batch_number_s"),
    ("graft.state.ParquetStateStore.setWatermarks", None, "state.watermark_commit_s"),
    ("graft.state.ParquetStateStore.resetWatermark", None, "state.watermark_commit_s"),
    ("graft.state.ParquetStateStore.appendDeadLetters", None, "state.dlq_append_s"),
    ("graft.streaming.ChangeRelay.replayCycle", None, "state.replay_s"),
    ("graft.streaming.ChangeRelay.cycleCore", "localCheckpoint", "sinks.export_s"),
    ("graft.streaming.ChangeRelay.cycleCore", "isEmpty", "sinks.failure_probe_s"),
    ("graft.streaming.ChangeRelay.cycleCore", "head", "ops.incremental_read_s"),
    ("graft.streaming.ChangeRelay.runCycles", None, "state.read_s"),
]
PHASES = sorted({r[2] for r in RULES})
UNATTRIBUTED = "unattributed_s"

_FRAME = re.compile(r"^\s*(?:at\s+)?([\w$.]+)\(")


def _method(frame):
    """'graft.x.C.$anonfun$m$2(F.scala:1)' -> 'graft.x.C.m'."""
    m = _FRAME.match(frame)
    if not m:
        return None
    qual = m.group(1)
    cls, _, meth = qual.rpartition(".")
    meth = re.sub(r"^\$anonfun\$", "", meth)
    meth = re.sub(r"\$\d+$", "", meth).split("$")[0]
    return f"{cls.rstrip('$')}.{meth}"


def attribute(call_site):
    """Phase of one job from its call-site string, or UNATTRIBUTED."""
    frames = [f for f in call_site.splitlines() if f.strip()]
    methods = [_method(f) for f in frames]
    api = next((m.rsplit(".", 1)[1] for m in methods
                if m and m.startswith("org.apache.spark.")), None)
    for m in methods:
        if not m or not m.startswith("graft."):
            continue
        for graft_method, api_method, phase in RULES:
            if m == graft_method and (api_method is None or api == api_method):
                return phase
    return UNATTRIBUTED


# ---- open-loop accounting --------------------------------------------------

def open_loop(commits):
    """Latency of each delivered commit from its DUE time (so a stalled
    generator or relay still charges the wait to every later commit), and
    how late the generator ran. Returns (latencies_s, lateness_s, undelivered)."""
    latencies, lateness, undelivered = [], [], 0
    for c in commits:
        if c["actual_ms"] >= 0:
            lateness.append(max(0, c["actual_ms"] - c["due_ms"]) / 1000.0)
        if c["delivered_ms"] < 0:
            undelivered += 1
        else:
            latencies.append((c["delivered_ms"] - c["due_ms"]) / 1000.0)
    return latencies, lateness, undelivered
