"""Output checks of the benchmark's workloads. Each check returns a list of
failure messages (empty = correct)."""
import importlib.util
import json
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent


def _comparator():
    """scripts/check.py, the repository's DuckDB comparator, used as-is."""
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "scripts" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ------------------------------------------------------------------ etl_ads

def check_etl_run(run, expect):
    """One runFiles call's outputs against what the generator planted."""
    bad = []
    for key in ("curated", "report"):
        if run.get(key) != expect[key]:
            bad.append(f"{key}: got {run.get(key)}, planted {expect[key]}")
    got_q = {k: v for k, v in (run.get("quarantine") or {}).items() if v}
    want_q = {k: v for k, v in expect["quarantine"].items() if v}
    if got_q != want_q:
        bad.append(f"quarantine by validation_error: got {got_q}, planted {want_q}")
    if run.get("report_ids") != expect["report_ids"]:
        bad.append(f"report ids: got {run.get('report_ids')}, planted {expect['report_ids']}")
    return bad


# ------------------------------------------------------- query workloads

def _connect(data_dir):
    con = duckdb.connect()
    for p in sorted(Path(data_dir).glob("*.parquet")):
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{src}'")
    return con


def _rows(con, dump):
    cur = con.execute(f"SELECT * FROM '{dump}/*.parquet'")
    return cur.fetchall(), [d[0] for d in cur.description]


def check_oracle(dump_dir, data_dir, names):
    """Each dumped query with oracle SQL against DuckDB, with the
    comparator and type check of scripts/check.py."""
    cmp = _comparator()
    oracle = json.loads((Path(dump_dir) / "oracle_sql.json").read_text())
    con = _connect(data_dir)
    bad = {}
    for name in names:
        if name not in oracle:
            continue
        dump = f"{dump_dir}/{name}"
        try:
            spark_rows, spark_cols = _rows(con, dump)
            cur = con.execute(oracle[name])
            problems = cmp.compare(name, cur.fetchall(), [d[0] for d in cur.description],
                                   spark_rows, spark_cols)
            problems += cmp.type_check(con, name, oracle[name], f"{dump}/*.parquet")
            problems += cmp.driver_sortable(dump_dir, name)
        except Exception as e:  # unreadable dump or oracle error
            problems = [f"{type(e).__name__}: {e}"]
        hard = [p for p in problems if not p.startswith("  ~")]
        if hard:
            bad[name] = hard[:5]
    return bad


def check_approx_distinct(dump_dir, data_dir, rel_err=0.1):
    """q_approx_distinct within its spec's error bound of the exact distinct
    count, and its exact row counts equal."""
    con = _connect(data_dir)
    got = {k: (a, n) for k, a, n in con.execute(
        f"SELECT l_returnflag, approx_parts, n FROM '{dump_dir}/q_approx_distinct/*.parquet'").fetchall()}
    exact = {k: (a, n) for k, a, n in con.execute(
        "SELECT l_returnflag, count(DISTINCT l_partkey), count(*) FROM lineitem GROUP BY 1").fetchall()}
    if set(got) != set(exact):
        return [f"groups {sorted(got)} != {sorted(exact)}"]
    return [f"{k}: approx {got[k][0]} vs exact {a}, rows {got[k][1]} vs {n}"
            for k, (a, n) in exact.items() if abs(got[k][0] - a) / a >= rel_err or got[k][1] != n]


def check_curation(dump_dir, data_dir):
    """The invariants the specs pin for the LSH queries (CurationSpec,
    DedupSpec, SimilaritySpec), on this run's corpus."""
    con = _connect(data_dir)
    d = lambda q: f"'{dump_dir}/{q}/*.parquet'"
    one = lambda sql: con.execute(sql).fetchone()
    bad = {}

    def need(name, ok, msg):
        if not ok:
            bad.setdefault(name, []).append(msg)

    kept_lsh, verdict_n, verdict_ids, bad_keep = one(
        f"SELECT sum(keep::INT), count(*), count(DISTINCT doc_id), "
        f"sum((keep <> (NOT is_duplicate AND NOT is_contaminated AND lang_ok AND quality_ok "
        f"AND repetition_ok))::INT) FROM {d('q_curate_verdict_lsh')}")
    stray = one(f"SELECT count(*) FROM {d('q_curate_verdict_lsh')} "
                f"WHERE doc_id NOT IN (SELECT doc_id FROM documents)")[0]
    need("q_curate_verdict_lsh", verdict_n > 0 and verdict_ids == verdict_n,
         f"{verdict_n} rows, {verdict_ids} distinct doc ids")
    need("q_curate_verdict_lsh", stray == 0, f"{stray} doc ids not in the corpus")
    need("q_curate_verdict_lsh", bad_keep == 0, f"{bad_keep} keep flags disagree with the gates")

    lsh_docs, bad_packs, bad_split = one(
        f"SELECT sum(n_docs), sum((n_packs < 1 OR n_packs > n_tokens // 256 + 1)::INT), "
        f"sum((split NOT IN ('train', 'val', 'test'))::INT) FROM {d('q_pipeline_e2e_lsh')}")
    need("q_pipeline_e2e_lsh", lsh_docs == kept_lsh,
         f"sum(n_docs) {lsh_docs} != LSH verdict keep count {kept_lsh}")
    need("q_pipeline_e2e_lsh", not bad_packs, f"{bad_packs} groups break the pack bound")
    need("q_pipeline_e2e_lsh", not bad_split, f"{bad_split} rows outside train/val/test")

    n, ids, bad_label, bad_size = one(
        f"WITH c AS (SELECT * FROM {d('q_dedup_clusters_lsh')}), "
        f"g AS (SELECT cluster_id, min(doc_id) m, count(*) k FROM c GROUP BY 1) "
        f"SELECT count(*), count(DISTINCT doc_id), sum((g.cluster_id <> g.m)::INT), "
        f"sum((c.cluster_size <> g.k)::INT) FROM c JOIN g USING (cluster_id)")
    need("q_dedup_clusters_lsh", n > 0 and ids == n, f"{n} rows, {ids} distinct doc ids")
    need("q_dedup_clusters_lsh", not bad_label, f"{bad_label} rows not labelled by their cluster's min doc id")
    need("q_dedup_clusters_lsh", not bad_size, f"{bad_size} rows with a wrong cluster_size")

    n_q, bad_rank, stray = one(
        f"WITH r AS (SELECT qid, count(*) k, count(DISTINCT rn) dr, min(rn) lo, max(rn) hi "
        f"FROM {d('q_sim_ann_ivfpq')} GROUP BY 1) "
        f"SELECT count(*), sum((k <> dr OR lo <> 1 OR hi <> k)::INT), "
        f"(SELECT count(*) FROM {d('q_sim_ann_ivfpq')} WHERE cid NOT IN (SELECT vec_id FROM embeddings)) "
        f"FROM r")
    need("q_sim_ann_ivfpq", n_q > 0, "no query vectors answered")
    need("q_sim_ann_ivfpq", not bad_rank, f"{bad_rank} queries with ranks other than 1..k")
    need("q_sim_ann_ivfpq", stray == 0, f"{stray} answers not in the corpus")
    return bad
