"""The ``llm_pipeline`` workload: passes over query lanes.

A lane is one registered query (``registry.QUERIES``): its function builds
the DataFrame (the plan phase, which includes every staging job the query
runs on the driver before it returns) and the DataFrame is written to the
``noop`` sink (the sink phase, which runs the query's final jobs). One
client runs the lanes one after another, closed loop; the seed permutes the
lane order of every pass. The measured part runs whole passes, at least two,
until the measured time reaches the run length, so every lane has more than
one sample in a run.

Set-up runs one untimed pass that collects every lane's rows and then
writes the lane's DataFrame to the ``noop`` sink: it absorbs the JVM,
code-generation and Python-worker warm-up, and its rows are the output
check. (With the collect alone, a lane's first measured sink took up to 1.7
times as long as its second.) Every lane must match its DuckDB oracle
(``registry.ORACLE``) on row count and order-insensitive row hash; the
check runs after the measured passes. A lane whose check fails counts every
measured execution of it as failed.

``read_p50_s`` and ``write_p50_s`` are each lane's median plan and sink
time, averaged over the lanes. The lanes' times differ several-fold, so a
percentile pooled over them would fall on the gap between two lanes.
"""

from __future__ import annotations

import hashlib
import random
from statistics import median

from perfbench.tracing import Tracer, typical_median

# Lanes whose construction runs staging jobs on the driver: x42's 21 (the
# occurrence-index append), x38's 8 (its strategy probe) and x7's per-call
# actions. Each has an oracle, and a pass is short enough for two in a run.
LLM_PIPELINE = (
    "x7_training_pipeline",
    "x38_bigram_lm_score",
    "x42_substring_ingest",
)


def row_digest(df) -> tuple[list[str], int, str]:
    """(columns, row count, order-insensitive row hash) of a DataFrame,
    canonicalized exactly as the repository's oracle harness does."""
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    return cols, len(rows), _digest(cols, rows)


def _digest(cols: list[str], rows: list[tuple]) -> str:
    from tests.oracle_harness import _rowset

    return hashlib.sha256("\n".join(_rowset(cols, rows)).encode()).hexdigest()


def run(spark, tracer: Tracer, sf_dir: str, seed: int, seconds: float) -> dict:
    from dmshadoop_spark import registry
    from tests.oracle_harness import run_duck

    registry.load_all()
    lanes = LLM_PIPELINE
    rng = random.Random(seed)
    bad: dict[str, str] = {}  # lane -> why its output check failed
    seen: dict[str, tuple[list[str], int, str]] = {}

    with tracer.span("warmup") as warm:
        for lane in rng.sample(lanes, len(lanes)):
            with tracer.span(f"{lane}.check"):
                try:
                    df = registry.QUERIES[lane](spark, sf_dir)
                    seen[lane] = row_digest(df)
                    df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # a lane failure is a result
                    bad[lane] = f"set-up pass raised {type(exc).__name__}: {exc}"

    passes: list[dict[str, dict]] = []  # per pass: lane -> {plan, sink}
    executions = failed = 0
    measured = 0.0
    first_call = None
    with tracer.span("llm_pipeline"):
        while len(passes) < 2 or measured < seconds:
            this: dict[str, dict] = {}
            with tracer.span("pass"):
                for lane in rng.sample(lanes, len(lanes)):
                    executions += 1
                    try:
                        with tracer.span(lane):
                            with tracer.span(f"{lane}.plan") as plan:
                                if first_call is None:
                                    first_call = plan["start"]
                                df = registry.QUERIES[lane](spark, sf_dir)
                            with tracer.span(f"{lane}.sink") as sink:
                                df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # counted, the pass goes on
                        failed += 1
                        bad.setdefault(
                            lane, f"raised {type(exc).__name__}: {exc}")
                        continue
                    this[lane] = {"plan": plan, "sink": sink}
            passes.append(this)
            measured += sum(s["plan"]["dur"] + s["sink"]["dur"]
                            for s in this.values())

    for lane in lanes:
        if lane not in registry.ORACLE:
            bad.setdefault(lane, "no oracle to check it against")
        elif lane in seen:
            cols, n, digest = seen[lane]
            d_cols, d_rows = run_duck(sf_dir, registry.ORACLE[lane])
            if sorted(cols) != sorted(d_cols):
                bad.setdefault(lane, f"columns {sorted(cols)} != {sorted(d_cols)}")
            elif n != len(d_rows) or digest != _digest(d_cols, d_rows):
                bad.setdefault(lane, f"{n} rows differ from the oracle's {len(d_rows)}")
    # Every measured execution of a lane whose check failed is a failure;
    # the ones that raised are already counted.
    failed += sum(1 for p in passes for lane in p if lane in bad)

    pass_s = [sum(s["plan"]["dur"] + s["sink"]["dur"] for s in p.values())
              for p in passes]
    plans = {lane: [p[lane]["plan"] for p in passes if lane in p] for lane in lanes}
    sinks = {lane: [p[lane]["sink"] for p in passes if lane in p] for lane in lanes}
    share = dict.fromkeys(lanes, 1)
    e2e = {
        "ops_per_s": sum(len(p) for p in passes) / measured,
        "pass_p50_s": median(pass_s),
        "read_p50_s": typical_median(plans, share),
        "write_p50_s": typical_median(sinks, share),
    }
    layers = {"warmup_s": warm["dur"]}
    if tracer.traced:
        for lane in lanes:
            runs = [p[lane] for p in passes if lane in p]
            if not runs:
                continue
            layers[f"{lane}.plan_s"] = median([r["plan"]["dur"] for r in runs])
            layers[f"{lane}.sink_s"] = median([r["sink"]["dur"] for r in runs])
            layers[f"{lane}.staging_jobs"] = median([r["plan"]["jobs"] for r in runs])
        for key, phase, field in (("plan_s", "plan", "dur"),
                                  ("sink_s", "sink", "dur"),
                                  ("staging_jobs", "plan", "jobs"),
                                  ("sink_jobs", "sink", "jobs")):
            layers[key] = median([sum(s[phase][field] for s in p.values())
                               for p in passes])
    return {
        "attempted": executions,
        "failed": failed,
        "problems": [f"{lane}: {why}" for lane, why in sorted(bad.items())],
        "first_call": first_call,
        "end_to_end": e2e,
        "per_layer": layers,
    }
