"""The batch workload: a fresh session runs two headline queries and
two curation queries of the contract surface (``__spark_entry__``) on
seeded tables.  Pass 0 is cold and collects each result, which is
checked against the query's oracle; later passes are warm (the first of
them a warm-up, not measured) and write to the noop sink.  The seed
permutes the query order in every pass."""

from __future__ import annotations

import os
import time

import numpy as np

from . import check, gen
from .common import SETUP_SAMPLES, median, setup_cpu_s, tree_cpu_s

# Two of the nine bench.py headline queries and two of the five curation
# queries named for this workload: all fourteen take ~65 s a run on four
# cores (cold pass ~37 s), far more than the benchmark's run budget allows.
# The kept set still covers the program's own operator families: JVM token
# decode and dedup (flagship_pipeline), the shuffle join (seq_shard_join)
# and the mapInArrow kernels (minhash_lsh_pairs, seq_decontaminate_bloom).
HEADLINE = ["flagship_pipeline", "seq_shard_join"]
CURATION = ["minhash_lsh_pairs", "seq_decontaminate_bloom"]
N_DOCS, N_ORDERS = 120, 1500
# The first pass after the cold one still runs ~40% more CPU than the
# next (JIT): it is a warm-up and not measured.  One measured warm pass's
# CPU varied by ~20% run to run on a 4-core box; warm_cpu_s is the median
# of two
WARMUP_PASSES, MIN_WARM_PASSES = 1, 2


def warm_setup_s(b) -> float:
    """setup_s: the median CPU seconds of ``SETUP_SAMPLES`` calls of
    ``get_spark`` in a JVM that is already up, each after a ``stop``."""
    samples = []
    for _ in range(SETUP_SAMPLES):
        c0 = setup_cpu_s()
        b.get_spark()
        samples.append(setup_cpu_s() - c0)
        b.stop_spark()
    return median(samples)


def run(b, rng: np.random.Generator, seconds: int) -> dict:
    import __spark_entry__ as E

    sf = os.path.join(b.work, "tables")
    gen.write_tables(rng, sf, N_DOCS, N_ORDERS)
    names = HEADLINE + CURATION
    orders = [list(rng.permutation(names)) for _ in range(64)]
    spark, _ = b.get_spark()  # launches the JVM
    qs = E.queries()
    times = {n: [] for n in names}
    failed = attempted = 0
    errors = []

    sqls = E.oracle_sql()
    tracer = b.tracer
    results = {}

    def one_pass(p: int) -> float:
        """Pass 0 collects each result (timed; checked against the oracle
        after the pass); warm passes write to the noop sink."""
        nonlocal failed, attempted
        total = 0.0
        pass_span = tracer.span("pass", p=p) if tracer else None
        for n in orders[p]:
            attempted += 1
            span = tracer.span("query", query=n) if tracer else None
            t0 = time.perf_counter()
            try:
                df = qs[n](spark, sf)
                if span:
                    df._jdf.queryExecution().executedPlan()
                    planned = time.time()
                    tracer.add_span("plan", span.start, planned, span.id)
                if p == 0:
                    pdf = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                if span:
                    tracer.add_span("execute", planned, time.time(), span.id)
            except Exception as e:  # a query that raises is a failed operation
                failed += 1
                errors.append(f"{n}: raised {str(e)[:200]}")
                continue
            finally:
                if span:
                    span.close()
            dt = time.perf_counter() - t0
            times[n].append(dt)
            total += dt
            if p == 0:
                results[n] = pdf
        if pass_span:
            pass_span.close()
        return total

    t_end = time.perf_counter() + seconds
    c0 = tree_cpu_s()
    cold = one_pass(0)
    cold_cpu = tree_cpu_s() - c0
    errors += b.checker(check.oracle_mismatches, b.root, sf,
                        [(n, sqls[n], pdf) for n, pdf in results.items()])
    warm_cpu = []
    p = 1
    while (p <= WARMUP_PASSES + MIN_WARM_PASSES
           or (time.perf_counter() < t_end and p < len(orders))):
        c1 = tree_cpu_s()
        one_pass(p)
        if p > WARMUP_PASSES:
            warm_cpu.append(tree_cpu_s() - c1)
        p += 1
    b.stop_spark()
    first = 1 + WARMUP_PASSES  # index of the first measured warm pass
    warm = {n: median(t[first:]) for n, t in times.items() if len(t) > first}
    cold_q = {n: t[0] for n, t in times.items() if t}
    layers = {
        "bench.batch_cold_s": cold,
        "bench.headline_warm_s": sum(warm.get(n, 0.0) for n in HEADLINE),
        "bench.curation_warm_s": sum(warm.get(n, 0.0) for n in CURATION),
    }
    layers.update({f"query.{n}.warm_s": v for n, v in warm.items()})
    layers.update({f"query.{n}.cold_s": v for n, v in cold_q.items()})
    return {
        "e2e": {
            "cold_cpu_s": cold_cpu,
            "warm_cpu_s": median(warm_cpu),
        },
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
    }
