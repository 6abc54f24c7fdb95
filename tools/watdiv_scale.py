"""WatDiv workload at reference scale.

The reference's SPARQL signal runs the WatDiv stress workload against a
10M-triple generated corpus with a 30s per-query timeout
(crux-bench/src/crux/bench/watdiv_crux.clj:22-27). This harness runs the
repo's 59-instance template workload (tests/test_watdiv.py — same
families, paper-schema corpus, no vendored WatDiv artifacts) at >=1M
triples, through BOTH compilers (sparql_to_datalog and the
independently hand-compiled Datalog), asserting full row-set agreement
per instance and recording wall clock per query.

Usage: python tools/watdiv_scale.py [n_users] [rows|counts]
  n_users: default 32000 ≈ 1.05M triples (310000 ≈ 10M, reference scale)
  mode:    'rows' (default) compares FULL row sets; 'counts' compares
           result counts — what watdiv_crux.clj itself records — and
           keeps the comparison distributed (no driver collect of
           multi-million-row results at 10M).
Writes WATDIV_SCALE.json (rows mode) / WATDIV_SCALE_COUNTS.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"),
)

TIMEOUT_BAR = 30.0  # the reference's own per-query timeout


def main() -> None:
    n_users = int(sys.argv[1]) if len(sys.argv) > 1 else 32000
    mode = sys.argv[2] if len(sys.argv) > 2 else "rows"

    from test_watdiv import _IDS, PREFIXES, TEMPLATES  # noqa: E402
    from watdiv import watdiv_df  # noqa: E402

    from crux_spark import Catalog, get_spark
    from crux_spark.datalog import q
    from crux_spark.plans import plan_facts
    from crux_spark.sources.loaders import pivot_triples
    from crux_spark.sources.sparql import sparql_to_datalog

    spark = get_spark("watdiv-scale")
    t0 = time.perf_counter()
    tri = watdiv_df(spark, n_users)
    n_triples = tri.count()
    wide = pivot_triples(tri).repartition(32).localCheckpoint()
    n_entities = wide.count()
    t_build = time.perf_counter() - t0
    cat = Catalog(spark)
    cat.add_documents("watdiv", wide)
    print(
        f"# corpus: {n_triples} triples, {n_entities} entities, "
        f"built in {t_build:.1f}s",
        file=sys.stderr,
    )

    def plan_of(df):
        """Join and shuffle counts of the executed plan, so a wall-clock
        swing can be told apart from a plan change in the record."""
        facts = plan_facts(df)
        return {k: facts[k] for k in
                ("broadcast_joins", "sort_merge_joins", "shuffle_exchanges")}

    results = {}
    disagreements = []
    over_bar = []
    def run_side(df):
        """(count, canonical-set-digest, seconds): collect is inside the
        timed window (engine + fetch), the digest is computed after the
        timer stops and the raw rows are FREED before returning — so
        comparing two 1M-row sides never holds both row sets on the
        driver at once (the r9 lesson: two live 1.17M-tuple sets put
        C1-0's second-measured twin 3x over its real wall via GC, with
        IDENTICAL plan fingerprints)."""
        import hashlib

        t = time.perf_counter()
        rows = df.collect()
        dt = time.perf_counter() - t
        uniq = {tuple(r) for r in rows}
        del rows
        h = hashlib.sha256()
        for rep in sorted(map(repr, uniq)):
            h.update(rep.encode())
        n = len(uniq)
        del uniq
        return n, h.hexdigest(), dt

    for (fam, builder, args), qid in zip(TEMPLATES, _IDS):
        sparql, datalog = builder(*args)
        sdf = q(cat, sparql_to_datalog(PREFIXES + sparql))
        hdf = q(cat, datalog)
        if mode == "counts":
            t1 = time.perf_counter()
            got = sdf.count()
            dt_sparql = time.perf_counter() - t1
            t2 = time.perf_counter()
            exp = hdf.count()
            dt_hand = time.perf_counter() - t2
            agree = got == exp
        else:
            n_s, dig_s, dt_sparql = run_side(sdf)
            n_h, dig_h, dt_hand = run_side(hdf)
            got = n_s
            agree = (n_s == n_h) and dig_s == dig_h
        if not agree:
            disagreements.append(qid)
        if max(dt_sparql, dt_hand) > TIMEOUT_BAR:
            over_bar.append(qid)
        n_rows = got
        results[qid] = {
            "rows": n_rows,
            "agree": agree,
            "sparql_s": round(dt_sparql, 2),
            "hand_s": round(dt_hand, 2),
            "sparql_plan": plan_of(sdf),
            "hand_plan": plan_of(hdf),
        }
        print(
            f"# {qid}: rows={n_rows} agree={agree} "
            f"sparql={dt_sparql:.2f}s hand={dt_hand:.2f}s",
            file=sys.stderr,
        )
        # unpin dead per-query checkpoint blocks between instances:
        # without this, closure checkpoints accumulate across 59
        # instances and the heavyweights at the tail run under memory
        # pressure — observed as a 6x wall blowup
        # on a re-execution of the IDENTICAL plan
        del sdf, hdf
        import gc

        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    out = {
        "n_users": n_users,
        "mode": mode,
        "n_triples": n_triples,
        "n_entities": n_entities,
        "build_s": round(t_build, 1),
        "instances": len(results),
        "disagreements": disagreements,
        "over_30s": over_bar,
        "total_sparql_s": round(sum(r["sparql_s"] for r in results.values()), 1),
        "results": results,
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "WATDIV_SCALE_COUNTS.json" if mode == "counts" else "WATDIV_SCALE.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "results"}))


if __name__ == "__main__":
    main()
