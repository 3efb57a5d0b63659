"""Incremental large-SF oracle gate.

CORRECTNESS_sf1_partial.json stopped at 51/172 because it swept in
registry order, which front-loaded the heavy tail — the
DuckDB-side shingle/minhash recomputes burned the whole budget before
the cheap entries ran. This runner makes the sweep resumable and
cheap-first:

- seeds the already-verified set from the output file AND the partial
  artifact, so every invocation only runs what's still missing;
- orders remaining entries by their last measured bench seconds
  ascending (cheapest first), so a bounded run maximizes coverage;
- caps each DuckDB oracle with an interrupt timer (oracle-side cost
  must never wedge the sweep — a timed-out oracle is recorded as
  'oracle_timeout' and skipped, not failed);
- rewrites the output JSON after every entry (crash-safe progress).

Usage:
    python tools/sf_gate.py [sf_dir] [--out FILE] [--budget SECS]
        [--oracle-timeout SECS] [--only name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uber_data_pipeline_spark.harness import clear_all, duck_views  # noqa: E402
from uber_data_pipeline_spark.session import get_spark  # noqa: E402
from uber_data_pipeline_spark.testing import compare  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))



def _seed_verified(out_path: str) -> set[str]:
    # (CORRECTNESS_sf1_partial.json, the r6-era partial sweep this
    # runner used to seed from, was superseded by the full-registry
    # gate and removed in r9.)
    done: set[str] = set()
    try:
        with open(out_path) as fh:
            done.update(json.load(fh).get("verified", []))
    except (OSError, ValueError):
        pass
    return done


def _bench_secs() -> dict[str, float]:
    try:
        with open(os.path.join(ROOT, "bench_detail.json")) as fh:
            return {
                k: float(v)
                for k, v in json.load(fh).get("queries", {}).items()
            }
    except (OSError, ValueError, TypeError):
        return {}


def _install_oracle_caches(con, oracles: dict[str, str]) -> dict[str, str]:
    """Materialize the shared shingle/minhash CTE relations ONCE per
    gate run — DuckDB-computed from the raw parquet, so oracle
    independence is preserved; this only removes the N-fold recompute
    of identical intermediates across the 9 dedup oracles (the cost
    that bottlenecked CORRECTNESS_sf1_partial). The cache DDL is
    derived from the SAME CTE constants the oracles embed (zero
    drift), and the rewrite is exact-string replacement of those
    constants."""
    from uber_data_pipeline_spark.queries.training import (
        _MINHASH_CTE,
        _PERM_VALUES,
        _SHINGLES_CTE,
    )
    from uber_data_pipeline_spark.operators import dedup

    con.execute(
        f"CREATE TABLE tok_cache AS WITH {_SHINGLES_CTE} SELECT * FROM tok"
    )
    con.execute(
        f"CREATE TABLE sh_cache AS WITH {_SHINGLES_CTE} SELECT * FROM sh"
    )
    con.execute(
        f"CREATE TABLE mh_cache AS WITH {_MINHASH_CTE} SELECT * FROM mh"
    )
    minhash_repl = f"""
    tok AS (SELECT * FROM tok_cache),
    sh AS (SELECT * FROM sh_cache),
    hs AS (
        SELECT doc_id, {dedup.SHINGLE_HASH_DUCK} AS h FROM sh
    ),
    perms AS (
        SELECT * FROM (VALUES {_PERM_VALUES}) AS t(perm_id, a, b)
    ),
    mh AS (SELECT * FROM mh_cache)
"""
    shingles_repl = """
    tok AS (SELECT * FROM tok_cache),
    sh AS (SELECT * FROM sh_cache)
"""
    out = {}
    for name, sql in oracles.items():
        # replace the superset block first (it embeds the shingle CTE)
        sql = sql.replace(_MINHASH_CTE, minhash_repl)
        sql = sql.replace(_SHINGLES_CTE, shingles_repl)
        out[name] = sql
    return out


def _sampled_specs(mod: int) -> dict:
    """name -> (sampled_oracle_sql, spark_row_filter) for the entries
    whose FULL oracle is inherently quadratic on the DuckDB side
    (exact all-pairs cosine baselines and the recall gates that embed
    them). The sampled oracle restricts the QUERY side to
    vec_id % mod == 0 and the Spark result — still computed by the
    UNMODIFIED registry entry over the full corpus — is filtered to
    the same keys before the compare. Per-query rankings / per-row
    flags are independent of other queries, so every compared row is
    exact; what's sampled is coverage, not precision."""
    from uber_data_pipeline_spark.functions.vectors import cosine_duck
    from uber_data_pipeline_spark.operators import similarity as S
    from uber_data_pipeline_spark.queries import training as T

    qp_a = f"(a.vec_id % {mod} = 0)"
    qp = f"(vec_id % {mod} = 0)"

    def recall_sql(k: int, approx: str) -> str:
        return f"""
        WITH exact AS ({T._sql_ann_exact(k, qp_a)}),
        approx AS ({approx}),
        hits AS (
            SELECT a.query_id, COUNT(*) AS n_hits
            FROM approx a JOIN exact e
              ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
            GROUP BY 1
        )
        SELECT v.vec_id AS query_id,
               CAST(COALESCE(h.n_hits, 0) AS INT) AS n_hits,
               ROUND(COALESCE(h.n_hits, 0) / CAST({k} AS DOUBLE), 6)
                   AS recall_at_k
        FROM embeddings v LEFT JOIN hits h ON h.query_id = v.vec_id
        WHERE v.vec_id % {mod} = 0
        """

    def pair_sql(tau) -> str:
        return f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {cosine_duck("a.embedding", "b.embedding")} AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {qp_a}
          AND {cosine_duck("a.embedding", "b.embedding")} >= {tau}
        """

    def by_query(pdf):
        return pdf[pdf.query_id % mod == 0]

    def by_vec_a(pdf):
        return pdf[pdf.vec_a % mod == 0]

    def knn_sampled_spark(spark, sf_dir):
        # per-LABEL aggregate: rows are not per-query, so the Spark
        # side re-runs the operator with the SAME query restriction
        # the oracle uses (the documented sampled-eval hook)
        from uber_data_pipeline_spark.queries.training import _emb

        return S.knn_classify(
            _emb(spark, sf_dir), T.ANN_K, query_pred=f"query_id % {mod} = 0"
        )

    return {
        "ann_knn_classify": (
            S.sql_knn_classify(T._sql_ann_exact(T.ANN_K, qp_a)),
            lambda pdf: pdf,
            knn_sampled_spark,
        ),
        "ann_bruteforce_topk": (T._sql_ann_exact(T.ANN_K, qp_a), by_query),
        "ann_ivf_topk": (T._sql_ann_ivf(T.ANN_K, qp), by_query),
        "ann_ivfpq_topk": (
            S.sql_ivfpq_topk(T.ANN_K, query_pred=qp),
            by_query,
        ),
        "ann_lsh_recall": (
            recall_sql(T.LSH_ANN_K, T._sql_ann_lsh(T.LSH_ANN_K, qp_a)),
            by_query,
        ),
        "ann_ivf_recall": (
            recall_sql(T.ANN_K, T._sql_ann_ivf(T.ANN_K, qp)),
            by_query,
        ),
        "ann_ivfpq_recall": (
            recall_sql(T.ANN_K, S.sql_ivfpq_topk(T.ANN_K, query_pred=qp)),
            by_query,
        ),
        "dedup_embedding_cosine": (
            pair_sql(T.COSINE_NEAR_DUP_STRICT),
            by_vec_a,
        ),
        "dedup_embedding_cosine_baseline": (
            pair_sql(T.COSINE_NEAR_DUP),
            by_vec_a,
        ),
        "dedup_semantic_cluster": (
            S.sql_semantic_dedup(query_pred=qp_a),
            lambda pdf: pdf[pdf.vec_id % mod == 0],
        ),
    }


def _run_oracle(con, sql: str, timeout: float):
    """DuckDB execute with a wall cap: a Timer fires con.interrupt()
    so one pathological recompute can't absorb the whole budget.

    The interrupt is guarded by a lock + in-flight flag: without it, a
    query finishing at ~the timeout can race timer.cancel() and leave a
    pending interrupt that aborts the NEXT oracle (mis-recorded as a
    timeout for the wrong entry)."""
    lock = threading.Lock()
    state = {"in_flight": True}

    def _maybe_interrupt():
        with lock:
            if state["in_flight"]:
                con.interrupt()

    timer = threading.Timer(timeout, _maybe_interrupt)
    timer.start()
    try:
        return con.execute(sql).df()
    finally:
        with lock:
            state["in_flight"] = False
        timer.cancel()


def _check_entry(spark, con, name, build, o_sql, timeout):
    """One per-entry check: ``build()`` runs the entry on Spark and
    returns its pandas result, the oracle runs under ``timeout``, the
    two are compared, and the session is cleared. Returns (status,
    detail) with status "pass", "fail" or "timeout"."""
    t0 = time.monotonic()
    try:
        try:
            sdf = build()
        except Exception as e:  # noqa: BLE001
            return "fail", f"spark error: {e}"
        try:
            odf = _run_oracle(con, o_sql, timeout)
        except Exception as e:  # noqa: BLE001
            if "INTERRUPT" in str(e).upper():
                return "timeout", "oracle timeout"
            return "fail", f"oracle error: {e}"
        problems = compare(name, sdf, odf)
        if problems:
            return "fail", "; ".join(problems)
        return "pass", f"{len(sdf)} rows, {time.monotonic() - t0:.1f}s"
    finally:
        clear_all(spark)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=".artifacts/sf1.0")
    ap.add_argument("--out", default=os.path.join(ROOT, "CORRECTNESS_sf1.json"))
    ap.add_argument("--budget", type=float, default=3300.0)
    ap.add_argument("--oracle-timeout", type=float, default=240.0)
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--no-cte-cache", action="store_true")
    ap.add_argument(
        "--sampled",
        action="store_true",
        help="run the sampled-key-range replay for the entries whose "
        "full oracle is quadratic (exact cosine baselines + recall "
        "gates); records them under verified_sampled",
    )
    ap.add_argument("--sample-mod", type=int, default=100)
    args = ap.parse_args()

    t_start = time.monotonic()
    verified = _seed_verified(args.out)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    secs = _bench_secs()
    if args.only:
        # --only forces the named entries even if already verified
        # (an entry whose semantics changed needs a fresh sf1 row);
        # drop them from the seed so a timeout/failure honestly
        # removes the stale green row instead of carrying it
        todo = [n for n in qs if n in set(args.only)]
        verified -= set(todo)
    else:
        todo = [n for n in qs if n not in verified]
    todo.sort(key=lambda n: secs.get(n, 0.0))

    state: dict = {}
    try:
        with open(args.out) as fh:
            state = json.load(fh)
    except (OSError, ValueError):
        pass
    failed = list(state.get("failed", []))
    timeouts = list(state.get("oracle_timeouts", []))
    if args.only:
        # a forced re-run owns the entry's whole row: stale
        # failed/timeout records from earlier attempts (e.g. an
        # infrastructure error like a full spill disk) don't carry
        failed = [n for n in failed if n not in set(args.only)]
        timeouts = [n for n in timeouts if n not in set(args.only)]
    sampled_ok = set(state.get("verified_sampled", []))

    def _flush(note: str) -> None:
        sf_name = os.path.basename(args.sf_dir.rstrip("/"))
        # a name that verified (full or sampled) in ANY run supersedes
        # its stale timeout/failed rows carried from earlier state
        resolved = verified | sampled_ok
        out = {
            "metric": "sf_oracle_gate",
            "sf": sf_name,
            "n_verified": len(verified),
            "n_registry": len(qs),
            "failed": sorted(set(failed) - resolved),
            "oracle_timeouts": sorted(set(timeouts) - resolved),
            "note": note,
            "verified": sorted(verified),
            # a full-oracle pass supersedes the weaker sampled row
            "verified_sampled": sorted(sampled_ok - verified),
        }
        tmp = args.out + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(out, fh, indent=1)
        os.replace(tmp, args.out)

    con = duck_views(args.sf_dir)

    if not args.no_cte_cache:
        from uber_data_pipeline_spark.queries.training import _SHINGLES_CTE

        if any(_SHINGLES_CTE in oracles.get(n, "") for n in todo):
            t0 = time.monotonic()
            oracles = _install_oracle_caches(con, oracles)
            print(
                f"oracle CTE caches built in {time.monotonic() - t0:.0f}s",
                flush=True,
            )

    spark = get_spark(app_name="udp-sf-gate")
    spark.sparkContext.setLogLevel("ERROR")

    note = (
        "cheap-first resumable sweep (tools/sf_gate.py); "
        "oracle_timeouts are "
        "DuckDB-side recompute cost, not engine failures; "
        "verified_sampled = full-corpus Spark result compared on the "
        "vec_id % sample_mod == 0 query slice (rows exact, coverage "
        "sampled) because the full oracle is quadratic DuckDB-side"
    )

    def check(name, build, o_sql, ok, tag=""):
        status, detail = _check_entry(
            spark, con, name, build, o_sql, args.oracle_timeout
        )
        word = {"pass": "PASS", "fail": "FAIL", "timeout": "SKIP"}[status]
        print(f"{word} {name}{tag}: {detail}", flush=True)
        if status == "pass":
            ok.add(name)
            # a pass is the entry's evidence now: an earlier FULL
            # oracle's DuckDB timeout is no longer an open item
            while name in timeouts:
                timeouts.remove(name)
        elif status == "timeout":
            timeouts.append(name)
        else:
            failed.append(name)
        _flush(note)

    if args.sampled:
        specs = _sampled_specs(args.sample_mod)
        names = [n for n in qs if n in specs and n not in verified]
        if args.only:
            names = [n for n in names if n in set(args.only)]
        for name in names:
            if time.monotonic() - t_start > args.budget:
                note += "; sampled pass stopped on time budget"
                break
            o_sql, row_filter, *spark_fn = specs[name]
            fn = spark_fn[0] if spark_fn else qs[name]
            check(
                name,
                lambda: row_filter(
                    fn(spark, args.sf_dir).toPandas()
                ).reset_index(drop=True),
                o_sql,
                sampled_ok,
                f" (sampled 1/{args.sample_mod})",
            )
        _flush(note)
        print(
            f"\nsampled-verified {len(sampled_ok)}; failed={sorted(set(failed))};"
            f" oracle_timeouts={sorted(set(timeouts))}"
        )
        spark.stop()
        return 1 if failed else 0

    for name in todo:
        if time.monotonic() - t_start > args.budget:
            note += "; stopped on time budget"
            break
        check(
            name,
            lambda: qs[name](spark, args.sf_dir).toPandas(),
            oracles[name],
            verified,
        )

    _flush(note)
    print(
        f"\nverified {len(verified)}/{len(qs)}; failed={sorted(set(failed))};"
        f" oracle_timeouts={sorted(set(timeouts))}"
    )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
