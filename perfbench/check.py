"""Output checks against references that do not run the engine.

FAME workloads: DuckDB SQL evaluates every statement the generator could
express in SQL, over the same input file, and each result column must match
the engine's within 1e-9 relative.  corpus_pipeline: the generator's ground
truth of injected exact and near duplicates.
"""
import duckdb

REL_TOL = 1e-9
RECALL_FLOOR = 0.5


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def fame_reference(manifest, inputs, out):
    src = "panel.parquet" if manifest["workload"] == "fame_keyed_batch" else "series.parquet"
    con = _con()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{inputs}/{src}')")
    for st in manifest["reference"]:
        con.execute(f'CREATE OR REPLACE TABLE t AS SELECT *, {st["sql"]} AS "{st["target"]}" '
                    'FROM t')
    con.execute(f"CREATE VIEW g AS SELECT * FROM read_parquet('{out}/result/*.parquet')")
    keys = manifest["keys"]
    on = " AND ".join(f'r."{k}" = g."{k}"' for k in keys)
    targets = [st["target"] for st in manifest["reference"]]

    def bad(c):
        r, g = f'r."{c}"', f'g."{c}"'
        return (f'SUM(CASE WHEN ({r} IS NULL AND {g} IS NULL) OR (isnan({r}) AND isnan({g})) '
                f'OR abs({r} - {g}) <= {REL_TOL} * greatest(1.0, abs({r})) THEN 0 ELSE 1 END)')

    row = con.execute(
        f"SELECT count(*), count(r.\"{keys[0]}\"), count(g.\"{keys[0]}\"), "
        + ", ".join(bad(c) for c in targets)
        + f" FROM t r FULL OUTER JOIN g ON {on}").fetchone()
    total, in_ref, in_got = row[0], row[1], row[2]
    diffs = {c: n for c, n in zip(targets, row[3:]) if n}
    missing = total - min(in_ref, in_got)
    detail = (f"{len(targets)} SQL-expressible columns over {in_ref} reference rows; "
              f"{missing} unmatched rows; mismatching columns: "
              + (", ".join(f"{c}({n})" for c, n in sorted(diffs.items())[:8]) or "none"))
    return [{"name": "fame.duckdb_reference", "ok": not diffs and missing == 0,
             "detail": detail}]


def corpus_truth(manifest, out):
    con = _con()
    ids = {r[0] for r in con.execute(
        f"SELECT id FROM read_parquet('{out}/corpus_out/*/*.parquet')").fetchall()}
    n_rows = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/corpus_out/*/*.parquet')").fetchone()[0]
    pairs = con.execute(
        f"SELECT id1, id2 FROM read_parquet('{out}/lsh_pairs/*.parquet')").fetchall()
    dups = {i for g in manifest["exact_groups"] for i in g[1:]}
    kept_dups = dups & ids
    found = {(min(a, b), max(a, b)) for a, b in pairs}
    injected = [tuple(sorted(p)) for p in manifest["near_pairs"]]
    recall = sum(p in found for p in injected) / len(injected)
    both_kept = sum(a in ids and b in ids for a, b in found)
    checks = [
        {"name": "corpus.exact_dups_removed", "ok": not kept_dups and n_rows > 0,
         "detail": f"{len(kept_dups)} of {len(dups)} injected exact duplicates survived; "
                   f"{n_rows} rows written"},
        {"name": "corpus.rows_written_once", "ok": n_rows == len(ids),
         "detail": f"{n_rows} rows, {len(ids)} distinct ids"},
        {"name": "corpus.near_dup_pairs_collapsed", "ok": both_kept == 0,
         "detail": f"{both_kept} of {len(found)} verified near-duplicate pairs kept both docs"},
        {"name": "corpus.near_dup_recall_floor", "ok": recall >= RECALL_FLOOR,
         "detail": f"recall {recall:.3f} of {len(injected)} injected pairs "
                   f"(floor {RECALL_FLOOR})"},
    ]
    return checks, {"ops.near_dup_recall": recall}
