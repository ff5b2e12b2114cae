"""The benchmark's workloads, driven through public ``Linker`` calls only.

Each workload has ``prepare`` (make the seeded inputs; not timed), ``setup``
(load inputs and model, build what later calls reuse),
``warm_up`` (run the timed code paths once), ``operation`` (one unit of work:
a whole pass or one online request, timed from inside as ``wall_s``) and
``verify`` (output checks, outside the timed region). Every call into the
engine is wrapped in a tracer span named after the layer it exercises.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from pyspark.sql import functions as F

import fixtures

HERE = os.path.dirname(os.path.abspath(__file__))
MODELS = os.path.join(HERE, "models")
# request indices of the online warm-up and evaluation probes (timed
# requests count up from 0)
WARMUP_IX, EVAL_IX = 1_000_000, 2_000_000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pairs(df, *cols):
    """Sum of n*(n-1)/2 over groups of ``cols``."""
    n = F.col("n").cast("long")
    row = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n")).agg(
        F.sum(n * (n - 1) / 2).cast("long").alias("p")
    ).collect()[0]
    return row["p"] or 0


def _pair_count(group_sizes: Counter) -> int:
    return sum(n * (n - 1) // 2 for n in group_sizes.values())


def _f1(tp: int, n_pred: int, n_true: int) -> float:
    return 2 * tp / (n_pred + n_true) if n_pred + n_true else 1.0


def _components(n_ids, edges) -> dict:
    """Union-find over ``edges``: node -> root, for every node in ``n_ids``."""
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


class Dedupe:
    """Closed loop of whole dedupe passes over one seeded fixture, with the
    5-comparison flagship model: train (lambda from two deterministic rules,
    u by sampling, two EM sessions), predict at 0.01, cluster at 0.9."""

    unit = "pass"
    predict_threshold = 0.01
    cluster_threshold = 0.9
    min_f1 = 0.9
    # checked against an independent count: the first prediction rule's key
    block_key = ("surname", "dob")
    # per-seed counts that must repeat exactly across runs
    repeat_keys = ("scored_pairs", "clusters", "candidate_pairs")

    def __init__(self, spark, tracer, seed: int, cache_dir: str, rows: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.cache_dir, self.rows = cache_dir, rows
        self.counts: dict = {}

    def prepare(self) -> None:
        self.path = fixtures.persons_parquet(
            self.spark, self.rows, self.seed, self.cache_dir
        )

    @staticmethod
    def settings():
        import splink_spark.comparison_library as cl
        from splink_spark import SettingsCreator, block_on

        return SettingsCreator(
            comparisons=[
                cl.JaroWinklerAtThresholds("first_name", [0.9]),
                cl.ExactMatch("surname", term_frequency_adjustments=True),
                cl.ExactMatch("dob"),
                cl.ExactMatch("city", term_frequency_adjustments=True),
                cl.ExactMatch("email"),
            ],
            blocking_rules_to_generate_predictions=[
                block_on("surname", "dob"),
                block_on("email"),
            ],
            probability_two_random_records_match=2e-6,
        )

    def setup(self) -> None:
        from splink_spark import Linker

        self.df = self.spark.read.parquet(self.path)
        self.df.count()
        Linker(self.df, self.settings())

    def warm_up(self) -> None:
        """One untimed pass, then drop what it cached."""
        linker = self._run(traced=False)[0]
        linker.misc.invalidate_cache()
        self.spark.catalog.clearCache()

    def _run(self, traced: bool = True):
        from contextlib import nullcontext

        from splink_spark import Linker, block_on

        span = self.tracer.span if traced else (lambda name: nullcontext())
        linker = Linker(self.df, self.settings())
        with span("concat_tf"):
            _noop(linker.df_concat_with_tf())
        t = linker.training
        with span("training.lambda"):
            t.estimate_probability_two_random_records_match(
                [block_on("email"), block_on("first_name", "surname", "dob")],
                recall=0.8,
            )
        with span("training.u"):
            t.estimate_u_using_random_sampling(max_pairs=2e6, seed=1)
        em_iterations = []
        with span("training.em"):
            for rule in (block_on("email"), block_on("surname", "dob")):
                session = t.estimate_parameters_using_expectation_maximisation(rule)
                em_iterations.append(len(session["history"]))
        with span("predict"):
            pred = linker.inference.predict(self.predict_threshold)
            _noop(pred)
        with span("cluster"):
            clustered = linker.clustering.cluster_pairwise_predictions_at_threshold(
                pred, self.cluster_threshold
            )
            _noop(clustered)
        return linker, pred, clustered, em_iterations

    def operation(self, i: int) -> dict:
        t0 = time.time()
        linker, pred, clustered, em_iterations = self._run()
        out = {"wall_s": time.time() - t0, "em_iterations": em_iterations}
        out.update(self._check(linker, pred, clustered))
        linker.misc.invalidate_cache()
        self.spark.catalog.clearCache()
        return out

    def _check(self, linker, pred, clustered) -> dict:
        """Counts and oracles of one pass, outside the timed region."""
        uid = "unique_id"
        rules = linker.blocking_analysis.count_comparisons_from_blocking_rules()
        keys = [F.expr(k) for k in self.block_key]
        keyed = self.df.where(keys[0].isNotNull() & keys[1].isNotNull())

        edges = [
            (r[0], r[1])
            for r in pred.where(F.col("match_probability") >= self.cluster_threshold)
            .select(f"{uid}_l", f"{uid}_r").collect()
        ]
        rows = clustered.select(uid, "cluster_id", "cluster").collect()
        engine = {r[0]: r[1] for r in rows}
        # connected components recomputed on the driver from the same edges
        roots = _components(engine.keys(), edges)
        n_clusters = len(set(engine.values()))
        same_partition = (
            len({(engine[k], roots[k]) for k in engine})
            == len(set(roots.values()))
            == n_clusters
        )
        return {
            "scored_pairs": pred.count(),
            "edges": len(edges),
            "clusters": n_clusters,
            "candidate_pairs": rules[-1]["cumulative_comparison_count"],
            "first_rule_pairs": rules[0]["marginal_comparison_count"],
            "first_rule_pairs_oracle": _pairs(keyed, *keys),
            "cluster_matches_oracle": same_partition,
            "f1": _f1(
                _pair_count(Counter((r[2], r[1]) for r in rows)),
                _pair_count(Counter(r[1] for r in rows)),
                _pair_count(Counter(r[2] for r in rows)),
            ),
        }

    def verify(self, results: list[dict], expected: dict) -> list[str]:
        """Errors for the run: per-pass repeatability, oracles, stored counts."""
        errors = []
        first = results[0]
        for k, r in enumerate(results):
            for key in ("scored_pairs", "clusters", "edges", "em_iterations"):
                if r[key] != first[key]:
                    errors.append(f"pass {k}: {key} {r[key]} != pass 0's {first[key]}")
            if r["first_rule_pairs"] != r["first_rule_pairs_oracle"]:
                errors.append(
                    f"pass {k}: blocking count {r['first_rule_pairs']} != oracle "
                    f"{r['first_rule_pairs_oracle']}"
                )
            if not r["cluster_matches_oracle"]:
                errors.append(f"pass {k}: clusters differ from union-find on the same edges")
        if first["f1"] < self.min_f1:
            errors.append(f"pairwise F1 {first['f1']:.4f} < {self.min_f1}")
        for key in self.repeat_keys:
            if key in expected and expected[key] != first[key]:
                errors.append(f"{key} {first[key]} != {expected[key]} expected for this seed")
        self.counts = {
            "blocking.candidate_pairs": first["candidate_pairs"],
            "predict.scored_pairs": first["scored_pairs"],
            "predict.useful_ratio": first["edges"] / max(1, first["candidate_pairs"]),
            "cluster.edges": first["edges"],
            "cluster.clusters": first["clusters"],
        }
        for j, n in enumerate(first["em_iterations"]):
            self.counts[f"training.em.iterations.{j}"] = n
        return errors

    def pairwise_f1(self, results: list[dict]) -> float:
        return results[0]["f1"]

    def expected(self, results: list[dict]) -> dict:
        return {k: results[0][k] for k in self.repeat_keys}


class MatchOnline:
    """Probe batches against a cached base, one request at a time."""

    unit = "request"
    batch = 10
    match_threshold = 0.9
    min_f1 = 0.9
    warmup_requests = 2
    eval_records = 1000

    def __init__(self, spark, tracer, seed: int, cache_dir: str, rows: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.cache_dir, self.rows = cache_dir, rows
        self.counts: dict = {}

    def prepare(self) -> None:
        # the base is the same for every seed, so its build cost compares
        # across runs; the seed picks the entities whose records are
        # duplicated into probes
        self.path = fixtures.persons_parquet(self.spark, self.rows, 0, self.cache_dir)
        base = self.spark.read.parquet(self.path)
        self.schema = base.schema
        picked = base.where(
            F.pmod(F.xxhash64("cluster", F.lit(self.seed)), F.lit(150)) == 0
        )
        self.pool = [r.asDict() for r in picked.orderBy("unique_id").collect()]
        self.entity_size = Counter(r["cluster"] for r in self.pool)
        self.n_entities = fixtures.entity_count(self.rows)

    def setup(self) -> None:
        from splink_spark import Linker

        self.base = self.spark.read.parquet(self.path)
        self.base.count()
        self.linker = Linker(self.base, os.path.join(MODELS, "match_online.json"))
        _noop(self.linker.df_concat_with_tf())

    def warm_up(self) -> None:
        for k in range(self.warmup_requests):
            _, new = self._request(WARMUP_IX + k, self.batch)
            self.linker.inference.find_matches_to_new_records(new).collect()

    def _request(self, i: int, size: int):
        rows = fixtures.online_requests(self.pool, self.n_entities, self.seed, i, size)
        new = self.spark.createDataFrame(rows, schema=self.schema)
        return rows, new

    def operation(self, i: int) -> dict:
        rows, new = self._request(i, self.batch)
        t0 = time.time()
        with self.tracer.span("find_matches"):
            got = self.linker.inference.find_matches_to_new_records(new).collect()
        wall = time.time() - t0
        return {"wall_s": wall, "i": i, **self._score(rows, got)}

    def _score(self, rows: list[dict], got: list) -> dict:
        """Pair counts of one probe against the truth."""
        truth = {r["unique_id"]: r["cluster"] for r in rows}
        tp = n_pred = 0
        bad_ids = 0
        for r in got:
            a, b = r["unique_id_l"], r["unique_id_r"]
            new_id, base_id = (a, b) if a in truth else (b, a)
            if new_id not in truth or base_id >= fixtures.NEW_ID_OFFSET:
                bad_ids += 1
                continue
            if r["match_probability"] >= self.match_threshold:
                n_pred += 1
                tp += fixtures.entity_of(base_id) == truth[new_id]
        n_true = sum(self.entity_size.get(c, 0) for c in truth.values())
        return {"pairs": len(got), "tp": tp, "n_pred": n_pred, "n_true": n_true,
                "bad_ids": bad_ids}

    def verify(self, results: list[dict], expected: dict) -> list[str]:
        # one larger untimed probe, so that F1 rests on a few hundred records
        rows, new = self._request(EVAL_IX, self.eval_records)
        got = self.linker.inference.find_matches_to_new_records(new).collect()
        self.eval = {"i": EVAL_IX, **self._score(rows, got)}
        errors = []
        for r in results + [self.eval]:
            if r["bad_ids"]:
                errors.append(f"request {r['i']}: {r['bad_ids']} pairs not (new, base)")
            want = expected.get(str(r["i"]))
            if want is not None and want != r["pairs"]:
                errors.append(f"request {r['i']}: {r['pairs']} pairs != {want} expected")
        f1 = self.pairwise_f1(results)
        if f1 < self.min_f1:
            errors.append(f"pairwise F1 {f1:.4f} < {self.min_f1}")
        n = len(results)
        self.counts = {
            "find_matches.pairs_per_request": sum(r["pairs"] for r in results) / n,
        }
        return errors

    def pairwise_f1(self, results: list[dict]) -> float:
        """Over the timed probes and the evaluation probe."""
        probes = results + [self.eval]
        return _f1(
            sum(r["tp"] for r in probes),
            sum(r["n_pred"] for r in probes),
            sum(r["n_true"] for r in probes),
        )

    def expected(self, results: list[dict]) -> dict:
        return {str(r["i"]): r["pairs"] for r in results + [self.eval]}
