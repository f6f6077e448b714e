"""Record the llm_curation reference values from a verified run.

    python3 perfbench/record.py

Runs every llm_curation operation once on the generated tables, verifies
each result independently, and writes ``perfbench/expected.json``: a
digest per pipeline step and the admitted-corpus size after each
``admit_batch`` call. Verification per step:

- registry-backed steps: the DuckDB oracle of the query registry, over
  the same tables (the correctness gate's comparison);
- ``dup_clusters``: a union-find over the same LSH edges, fetched from
  Spark, must give every node its component's minimum id;
- ``kmeans_pll_init``: every vector gets exactly one cluster in [0, 8),
  and a second execution gives the same digest;
- admission: a second execution admits the same documents, and the
  mutations batch, a near-copy of the corpus batch, is mostly rejected.

Re-run after changing the generated tables (``datagen.TABLES_VERSION``).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import _environment

    _environment(os.path.join(ROOT, ".perfbench"))
    import duckdb

    from perfbench import datagen, harness
    from perfbench.checks import digest, query_result
    from perfbench.workloads import (
        EXPECTED_PATH, LLM_CURATION, Ctx, _entry_callables, _oracle_sql, admitted,
        new_pass_dir,
    )
    from tools.verify_local import TABLES

    sf_dir = datagen.ensure_tables(os.path.join(ROOT, ".perfbench", "data"))
    work = os.path.join(ROOT, ".perfbench", "record")
    shutil.rmtree(work, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    ctx = Ctx(spark=harness.start_session(cores), sf_dir=sf_dir, work=work, seed=0)
    ctx.state["fns"] = _entry_callables()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    values, how, problems = {}, {}, []

    def run(op):
        if op.kind == "query":
            df = op.build(ctx)
            return query_result(df.toPandas(), df.dtypes)
        op.call(ctx)
        return admitted(ctx, None)

    try:
        ops = LLM_CURATION.pass_ops(ctx, None)
        for attempt in range(2):
            ctx.pass_dir = new_pass_dir(ctx, f"record{attempt}")
            for op in ops:
                got = run(op)
                value = got if isinstance(got, int) else digest(*got)
                if attempt == 1:
                    if values[op.name] != value:
                        problems.append(f"{op.name}: not deterministic")
                    continue
                values[op.name] = value
                if op.name == "dup_clusters":
                    how[op.name] = _verify_clusters(ctx, got, problems)
                elif op.name == "kmeans_pll_init":
                    ids = sorted(r[0] for r in got[1])
                    ok = (ids == list(range(datagen.ROWS["embeddings"]))
                          and all(0 <= r[1] < 8 for r in got[1]))
                    if not ok:
                        problems.append("kmeans_pll_init: bad assignment")
                    how[op.name] = "one cluster in [0, 8) per vector; deterministic"
                elif op.kind == "admit":
                    how[op.name] = "deterministic; mutations mostly rejected"
                else:
                    sql, _ = _oracle_sql(op.name, sf_dir)
                    rel = con.sql(sql)
                    want = digest(list(rel.columns), rel.fetchall())
                    if want != value:
                        problems.append(f"{op.name}: {value} != oracle {want}")
                    how[op.name] = "DuckDB oracle of the query registry"
        corpus = values["admit_corpus"]
        if not values["admit_mutations"] - corpus < corpus // 10:
            problems.append("admit_mutations: mutations were not rejected")
    finally:
        harness.stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    with open(EXPECTED_PATH, "w") as fh:
        json.dump({"tables_version": datagen.TABLES_VERSION, "verified_by": how,
                   "values": values}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {EXPECTED_PATH}")
    return 0


def _verify_clusters(ctx, got, problems) -> str:
    """Union-find over the LSH edges that ``bench._dup_clusters_lsh``
    clusters; each node's cluster must be its component's minimum id."""
    from questdb_etl_jobs_spark.operators.dedup import near_dup_pairs
    from questdb_etl_jobs_spark.queries.llm import _chained_corpus
    from questdb_etl_jobs_spark.sources.tables import load_table

    corpus = _chained_corpus(load_table(ctx.spark, ctx.sf_dir, "documents"))
    edges = near_dup_pairs(corpus, "doc_id", "text", threshold=0.7).collect()
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    cols, rows = got
    node, cluster = cols.index("node"), cols.index("cluster")
    want = {n: find(n) for n in parent}
    have = {r[node]: r[cluster] for r in rows}
    if have != want:
        problems.append(f"dup_clusters: {len(have)} labels differ from union-find")
    return "union-find over the same LSH edges"


if __name__ == "__main__":
    sys.exit(main())
