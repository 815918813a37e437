"""Turns one run's raw measurements into the reported metrics.

Kept free of Spark and DuckDB so the rules (which operations failed,
which percentile a tail may claim) are unit-tested on their own.
"""
import math
import statistics

# Operations whose digest must equal the verified output's digest;
# cycles and reorgs carry "ok" when their watermark check passed.
DIGEST_KINDS = ("derive", "serve")
TIMED_KINDS = ("derive", "cycle", "reorg", "serve")
# Derivations per batch run that give its end-to-end metrics (Main.BatchOps)
BATCH_OPS = 3


def median(xs):
    return statistics.median(xs)


def tail_percentile(xs, beyond=10):
    """The highest whole percentile p whose nearest-rank value still has
    at least `beyond` samples above its rank. Returns (p, value), or None
    when there are not more than `beyond` samples.
    """
    n = len(xs)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    assert n - rank >= beyond
    return p, sorted(xs)[rank - 1]


def op_failed(op, expected):
    """An operation fails if it threw or its output check did not pass."""
    if op.get("error"):
        return True
    want = expected if op["kind"] in DIGEST_KINDS else "ok"
    return op.get("digest") != want


def account(ops, expected, oracle_ok):
    """(attempted, failed) over the timed operations. When the verified
    output disagrees with the oracle, every operation counts as failed:
    each one's digest was checked against a wrong reference.
    """
    timed = [o for o in ops if o["kind"] in TIMED_KINDS]
    attempted = len(timed)
    failed = attempted if not oracle_ok else sum(
        op_failed(o, expected) for o in timed)
    return attempted, failed


def end_to_end(raw, expected):
    """Every end-to-end metric from one untraced run.

    ingest_full: the run's first three derivations, made in a fresh JVM:
    their mean time and scratch bytes (the cold start each cron-driven
    engine run pays is in them), and the median of their live heap.
    ingest_cycle: the median cycle (feed file committed to its rows
    admitted) and its median scratch bytes; the heap is sampled after the
    final serve, the only operation that holds caches.
    """
    ops = [o for o in raw["ops"] if not op_failed(o, expected)] or raw["ops"]
    setup = raw["session_s"] + median(raw["setup_reps_s"])
    if raw["workload"] == "ingest_cycle":
        cycles = [o for o in ops if o["kind"] == "cycle"]
        return {
            "setup_s": setup,
            "wall_s": median([o["s"] for o in cycles]),
            "scratch_written_mb": median([o["scratch_mb"] for o in cycles]),
            "heap_peak_mb": max(o["heap_mb"] for o in ops),
        }
    first = raw["ops"][:BATCH_OPS]
    return {"setup_s": setup,
            "wall_s": statistics.mean(o["s"] for o in first),
            "scratch_written_mb": statistics.mean(o["scratch_mb"] for o in first),
            "heap_peak_mb": median([o["heap_mb"] for o in first])}


def cycle_summary(raw):
    """ingest_cycle's latency figures: median and tail of the cycles,
    median reorg (rollback call to the winning branch visible at the old
    tip) and the final serve from the facts store.
    """
    cyc = [o["s"] for o in raw["ops"] if o["kind"] == "cycle" and not o["error"]]
    reorg = [o["s"] for o in raw["ops"] if o["kind"] == "reorg" and not o["error"]]
    serve = [o["s"] for o in raw["ops"] if o["kind"] == "serve" and not o["error"]]
    tail = tail_percentile(cyc)
    return {
        "cycles": len(cyc),
        "cycle_p50_s": median(cyc) if cyc else None,
        "cycle_tail_pct": tail[0] if tail else None,
        "cycle_tail_s": tail[1] if tail else None,
        "reorgs": len(reorg),
        "reorg_p50_s": median(reorg) if reorg else None,
        "serve_s": median(serve) if serve else None,
    }


def per_layer(raw, names):
    """Every per-layer metric of a traced run, named `<layer>.<metric>`.
    A layer the workload does not exercise reports 0.
    """
    layers = raw["traced"]["layers"]
    ops = [o for o in raw["ops"] if not o["error"]]
    extra = {}
    if raw["workload"] == "ingest_cycle":
        s = cycle_summary(raw)
        on = [o["s"] for o in ops if o["kind"] == "cycle" and o["traced"]]
        off = [o["s"] for o in ops if o["kind"] == "cycle" and not o["traced"]]
        extra = {"cycle.p50_s": s["cycle_p50_s"] or 0.0,
                 "cycle.tail_s": s["cycle_tail_s"] or 0.0,
                 "cycle.reorg_p50_s": s["reorg_p50_s"] or 0.0,
                 "cycle.serve_s": s["serve_s"] or 0.0,
                 "trace.overhead_s": (median(on) - median(off)
                                      if on and off else 0.0)}
    else:
        # the warm untraced derivations just before and after the traced one
        beside = [o["s"] for o in ops if o["kind"] == "derive"][1:]
        extra = {"trace.overhead_s":
                 raw["traced"]["wall_s"] - statistics.mean(beside)}
    out = {}
    for n in names:
        if n in extra:
            out[n] = extra[n]
        else:
            layer, _, metric = n.rpartition(".")
            out[n] = float(layers.get(layer, {}).get(metric, 0.0))
    return out
