"""query_mix: registered analytic queries through the engine's public
registry (``REGISTRY[name].build``, then the result collected to the
driver with ``toPandas``).

Each query runs once right after ``clearCache`` (its first execution:
build + execute) and is then repeated; the warm figure is the median of
the repeats. The last execution's collected result is checked against
the query's DuckDB oracle (the oracle-less ``sim_topk_pq`` against a numpy
brute-force top-k), so checking costs no extra execution.

Nine queries, one layer behaviour each. Three more were measured and
left out to keep a run inside the time budget, each because a kept
member already covers its behaviour: ``eval_rouge_l`` (pandas-UDF bound;
``dedup_fuzzy_jw_blocked``), ``text_quality_train_irls`` (iterative
driver loop; the rank and PQ round trips) and ``scalar_json_extract``
(JSON parsing; ``pipeline_parse_validate``).
"""

from __future__ import annotations

import math
import os
import sys
import time

import numpy as np

from perfbench import gen
from perfbench.harness import MB, median

# query -> the tables it reads (for the input-MB/s figure)
QUERIES = {
    "q01_pricing_summary": ("lineitem",),  # JVM-only scan + aggregate: the control
    "q05_local_supplier_volume": ("customer", "orders", "lineitem", "supplier", "nation", "region"),  # broadcast joins
    "q18_large_volume_customer": ("lineitem", "orders", "customer"),  # shuffle join + top-k
    "pipeline_parse_validate": ("orders",),  # pipeline.transform without transfers
    "stat_spearman_rank_corr": ("lineitem",),  # rankstats driver round trips (build-heavy)
    "dedup_jaccard_pairs": ("documents",),  # dedup family, shuffle-heavy
    "dedup_fuzzy_jw_blocked": ("customer",),  # dedup family, Python-side verify
    "sim_topk_pq": ("embeddings",),  # pq thread pools and speculation gate
    "stream_upsert_materialize": ("events",),  # streaming replay: micro-batches, build-heavy
}
WARMUP_QUERY = "q01_pricing_summary"
# the replay query's build runs its micro-batches, so its build spans are
# the streaming layer's self time
SPAN_LAYER = {"stream_upsert_materialize": "streaming"}


def force(df):
    """Execute the plan and collect its (small) result to the driver."""
    return df.toPandas()


class QueryMix:
    SF = 0.01
    REPEATS = 2

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.tracer = work, seed, tracer
        self.data = os.path.join(work, "tables")
        self.failed = 0
        self.attempted = 0
        self.last: dict = {}
        self.jobs: dict[str, int] = {}

    def generate(self) -> None:
        self.sizes = gen.query_tables(self.data, self.seed, self.SF)

    def warmup(self, spark) -> None:
        from etl_file_sync_spark.queries import REGISTRY

        force(REGISTRY[WARMUP_QUERY].build(spark, self.data))

    def _execute(self, spark, name: str, label: str) -> tuple[float, float]:
        from etl_file_sync_spark.queries import REGISTRY

        sc = spark.sparkContext
        group = f"perfbench.{name}.{label}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        with self.tracer.span(f"query.{name}.build", SPAN_LAYER.get(name, "queries")):
            df = REGISTRY[name].build(spark, self.data)
        t1 = time.perf_counter()
        with self.tracer.span(f"query.{name}.exec", "spark"):
            self.last[name] = force(df)
        t2 = time.perf_counter()
        if label == "first" and name not in self.jobs:
            # per-query job counts describe the run's first execution, the
            # one after clearCache in the untraced pass
            self.jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("perfbench.idle", "perfbench.idle")
        return t1 - t0, t2 - t1

    def run(self, spark, seconds: float, traced: bool) -> dict:
        """One pass: per query clearCache, first execution, repeats. The
        mix is a fixed amount of work, so it ignores ``seconds``."""
        rec = {"first": {}, "warm": {}, "repeats": {}, "build": {}, "exec": {}}
        t0 = time.perf_counter()
        for name in QUERIES:
            spark.catalog.clearCache()
            b, e = self._execute(spark, name, "first")
            rec["first"][name] = b + e
            warm = [sum(self._execute(spark, name, f"rep{i}")) for i in range(self.REPEATS)]
            rec["warm"][name], rec["repeats"][name] = median(warm), warm
            rec["build"][name], rec["exec"][name] = b, e
        rec["wall_s"] = time.perf_counter() - t0
        rec["executions"] = len(QUERIES) * (1 + self.REPEATS)
        return rec

    def input_mb(self) -> float:
        """Parquet MB the whole mix reads once."""
        return sum(self.sizes[t] for tables in QUERIES.values() for t in tables) / MB

    def end_to_end(self, rec: dict, setup_s: float) -> dict:
        return {
            "setup_s": setup_s,
            "ops_per_s": rec["executions"] / rec["wall_s"],
            "mb_per_s": self.input_mb() * (1 + self.REPEATS) / rec["wall_s"],
            "step_p50_s": sum(rec["warm"].values()),
            "step_tail_s": sum(rec["first"].values()),
        }

    def layer(self, rec: dict) -> dict:
        """Per-query build/execute split of a pass's first executions (the
        untraced pass: the traced one runs on a JVM the first pass warmed)."""
        out = {}
        for name in QUERIES:
            out[f"query.{name}.build_s"] = rec["build"][name]
            out[f"query.{name}.exec_s"] = rec["exec"][name]
            out[f"query.{name}.jobs"] = self.jobs.get(name, 0)
        out["query.build_total_s"] = sum(rec["build"].values())
        out["query.exec_total_s"] = sum(rec["exec"].values())
        out["query.jobs_total"] = sum(self.jobs.get(n, 0) for n in QUERIES)
        return out

    # -- checks (outside every timed region) --------------------------------
    def check(self) -> list[str]:
        """Compare each query's last collected result with its oracle;
        returns the names that failed."""
        import duckdb

        from etl_file_sync_spark.queries import REGISTRY

        con = duckdb.connect()
        for t in self.sizes:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.data, t)}.parquet'")
        bad = []
        for name in QUERIES:
            self.attempted += 1
            try:
                got = self.last[name]
                if name == "sim_topk_pq":
                    ok = self._check_pq(got)
                else:
                    ok = frames_match(got, con.sql(REGISTRY[name].oracle).df())
            except Exception as exc:  # a raising check is a failed output
                print(f"check {name}: {type(exc).__name__}: {exc}", file=sys.stderr, flush=True)
                ok = False
            if not ok:
                bad.append(name)
        self.failed += len(bad)
        return bad

    def _check_pq(self, got) -> bool:
        """PQ top-5 is approximate: recall against brute-force cosine must
        be >= 0.95 and every returned cosine must be exact (rerank)."""
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.data, "embeddings.parquet")).to_pydict()
        ids = np.array(t["vec_id"])
        v = np.array(t["embedding"], dtype=np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        qmask = ids % 40 == 0
        sims = v[qmask] @ v.T
        truth = set()
        for qi, row in zip(ids[qmask], sims):
            order = [j for j in np.lexsort((ids, -row)) if ids[j] != qi][:5]  # self excluded
            truth.update((int(qi), int(ids[j])) for j in order)
        pos = {int(i): k for k, i in enumerate(ids)}
        pairs = set(zip(got["query_id"].astype(int), got["neighbor_id"].astype(int)))
        exact = all(  # the rerank reports exact cosines rounded to 4 dp
            abs(c - float(v[pos[int(a)]] @ v[pos[int(b)]])) <= 5.01e-5
            for a, b, c in zip(got["query_id"], got["neighbor_id"], got["cosine"])
        )
        recall = len(pairs & truth) / len(truth)
        if not (len(got) == len(truth) and recall >= 0.95 and exact):
            print(f"check sim_topk_pq: rows {len(got)}/{len(truth)} recall {recall:.3f} exact {exact}",
                  file=sys.stderr, flush=True)
            return False
        return True


def frames_match(a, b, tol: float = 1e-9) -> bool:
    """Order-insensitive equality: same columns, same row multiset, floats
    equal to ``tol`` (absolute) or 1e-9 (relative)."""
    import pandas as pd

    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)

    a, b = canon(a), canon(b)
    for c in a.columns:
        x, y = a[c].tolist(), b[c].tolist()
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            for p, q in zip(x, y):
                pn = p is None or (isinstance(p, float) and math.isnan(p))
                qn = q is None or (isinstance(q, float) and math.isnan(q))
                if pn or qn:
                    if pn != qn:
                        return False
                elif not math.isclose(float(p), float(q), rel_tol=1e-9, abs_tol=tol):
                    return False
        else:
            norm = lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else (  # noqa: E731
                v.to_pydatetime() if hasattr(v, "to_pydatetime") else v
            )
            if [norm(v) for v in x] != [norm(v) for v in y]:
                return False
    return True
