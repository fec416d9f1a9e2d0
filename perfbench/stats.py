"""Pure helpers for the benchmark: tail selection, the traced
run's reconciliation check and digest comparison. No I/O, so they are
unit-tested in perfbench/tests/ without a JVM."""
# The reconciliation check allows this much of an operation's wall to sit
# outside its four phase timers (the bookkeeping between them; each traced
# phase's timer includes switching its job tag).
RECONCILE_ABS_S = 0.005
RECONCILE_REL = 0.01

PHASES = ("build", "plan", "exec", "release")


def tail(values, min_beyond=10):
    """The highest percentile that still has `min_beyond` samples above it.

    With n sorted samples that is the sample at 1-based rank n - min_beyond:
    exactly `min_beyond` samples lie beyond it, and it sits at percentile
    100 * (n - min_beyond) / n. Returns (percentile, value, n), or None
    when there are too few samples for any such percentile."""
    n = len(values)
    if n <= min_beyond:
        return None
    rank = n - min_beyond
    return 100.0 * rank / n, sorted(values)[rank - 1], n


def reconcile(op):
    """Check one traced operation record. Returns a list of problems.

    The four phase timers must cover the operation's wall to within
    RECONCILE_ABS_S or RECONCILE_REL of it, whichever is larger, and the
    jobs counted per phase tag must add up to every job the scheduler
    started during the operation (a job that escaped tagging shows up as
    `untagged_jobs`)."""
    problems = []
    phases = sum(op[f"{p}_s"] for p in PHASES)
    gap = op["wall_s"] - phases
    if abs(gap) > max(RECONCILE_ABS_S, RECONCILE_REL * op["wall_s"]):
        problems.append(f"phases sum to {phases:.4f} s of {op['wall_s']:.4f} s wall")
    phase_jobs = sum(op[f"{p}_jobs"] for p in PHASES)
    scheduler_jobs = phase_jobs + op["untagged_jobs"]
    if phase_jobs != scheduler_jobs:
        problems.append(f"phase jobs {phase_jobs} != scheduler jobs {scheduler_jobs}")
    return problems


def check_digest(op, expected):
    """None when the operation returned the expected result, else why not."""
    if op.get("err"):
        return f"error: {op['err']}"
    want = expected.get(op["q"])
    if want is None:
        return "no expected digest"
    if (op["rows"], op["hash"]) != (want["rows"], want["hash"]):
        return (f"digest {op['rows']}/{op['hash']} != "
                f"expected {want['rows']}/{want['hash']}")
    return None
