"""The Linker facade: settings + input DataFrames + component namespaces.

Reference: splink/internals/linker.py:66-174 — component namespaces
(``inference``, ``training``, ``clustering``, ``evaluation``,
``blocking_analysis``, ``table_management``; :167-174). Here each namespace is
a thin object over pure DataFrame-pipeline functions in ``internals/``.
"""

from __future__ import annotations

import logging
from typing import Mapping, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .internals.blocking import BlockingRule, block_using_rules, count_comparisons_per_rule
from .internals.comparison_vectors import (
    blocked_pairs_with_columns,
    build_pairs_with_columns,
    compute_comparison_vectors,
)
from .internals.functions import register_udfs
from .internals.materialize import MaterializationPolicy
from .internals.predict import predict_from_comparison_vectors
from .internals.settings import Settings
from .internals.term_frequencies import (
    compute_term_frequencies,
    join_term_frequencies,
)
from .internals.vertically_concatenate import (
    split_link_only_two_datasets,
    vertically_concatenate,
)

FrameInput = Union[DataFrame, Sequence[DataFrame], Mapping[str, DataFrame]]

logger = logging.getLogger(__name__)
# pipeline-stage observability level (splink_logging.PIPELINE) — the
# reference logs each enqueued pipeline stage; here stages are DataFrame
# plan points, logged as they are first built/persisted
from .internals.splink_logging import PIPELINE  # noqa: E402


class Linker:
    def __init__(
        self,
        input_table_or_tables: FrameInput,
        settings: Settings,
        materialization: Optional[MaterializationPolicy] = None,
        log_level=None,
        validate_settings: bool = True,
    ):
        # reference parity (linker.py Linker.__init__): settings may be the
        # Settings object, a settings dict, or a path to a settings JSON.
        # log_level / validate_settings are accepted for signature parity:
        # logging routes through splink_spark.logging, and settings are
        # validated eagerly in Settings.from_dict / the level builders.
        if isinstance(settings, str):
            settings = Settings.from_json(settings)  # path or JSON string
        elif isinstance(settings, dict):
            settings = Settings.from_dict(settings)
        self.settings = settings
        self._frames = _normalise_frames(input_table_or_tables)
        first = next(iter(self._frames.values()))
        self.spark: SparkSession = first.sparkSession
        register_udfs(self.spark)
        self.materialization = materialization or MaterializationPolicy()
        # debug mode (reference database_api.py:210-263): when True, each
        # pipeline stage is eagerly materialized as its own inspectable
        # temp view (__splink__df_concat, __splink__df_concat_with_tf,
        # __splink__blocked_id_pairs, __splink__df_comparison_vectors,
        # __splink__df_predict) with per-stage row counts and timings
        # printed — the step-wise execution a user reconstructing a wrong
        # gamma or an empty blocking join needs. Toggle at any time:
        # ``linker.debug_mode = True``. Materialized stages are also kept
        # in ``linker.debug_tables``.
        self.debug_mode = False
        self.debug_tables: dict[str, DataFrame] = {}
        self._concat: Optional[DataFrame] = None
        self._concat_with_tf: Optional[DataFrame] = None
        self._tf_tables: Optional[dict[str, DataFrame]] = None
        # the latest find_matches_to_new_records probe, cached per request
        self._probe: Optional[DataFrame] = None
        # user-registered blocked pairs (table_management): when set,
        # predict() scores these instead of running the blocking join
        self._registered_blocked_pairs: Optional[DataFrame] = None

        if settings.needs_source_dataset and len(self._frames) < 2:
            raise ValueError(f"{settings.link_type} requires >= 2 input tables")

        if validate_settings:
            # reference settings_validation/log_invalid_columns.py: a missing
            # unique-id column is fatal; other referenced-but-absent columns
            # are logged so typos surface before a blocking join fails deep
            # in a plan
            from .internals.settings import validate_settings_columns

            # per input table, as the reference does: for link jobs a column
            # present in one frame but missing from another passes a
            # union-of-columns check and then fails deep inside a blocking
            # plan — validate each frame and name the offending table
            for tname, frame in self._frames.items():
                frame_cols = set(frame.columns)
                if settings.unique_id_column_name not in frame_cols:
                    raise ValueError(
                        f"unique_id_column_name "
                        f"{settings.unique_id_column_name!r} not found in "
                        f"input table {tname!r} columns {sorted(frame_cols)}"
                    )
                missing = validate_settings_columns(settings, frame_cols)
                if missing:
                    logger.warning(
                        "settings reference columns missing from input "
                        "table %r: %s — comparisons or blocking rules using "
                        "them will fail or silently produce null gammas",
                        tname,
                        missing,
                    )

        self.inference = LinkerInference(self)
        self.training = LinkerTraining(self)
        self.clustering = LinkerClustering(self)
        self.evaluation = LinkerEvaluation(self)
        self.blocking_analysis = LinkerBlockingAnalysis(self)
        self.misc = LinkerMisc(self)
        self.table_management = LinkerTableManagement(self)
        self.visualisations = LinkerVisualisations(self)

        # every public namespace method that returns a DataFrame returns it
        # re-typed as a SplinkDataFrame (still a native Spark DataFrame, plus
        # the reference's result-handle API: as_pandas_dataframe /
        # as_record_list / to_parquet / query_sql / drop_table_... —
        # reference internals/splink_dataframe.py:19-295)
        from .internals.splink_dataframe import wrap_namespace_outputs

        for _ns in (
            self.inference,
            self.training,
            self.clustering,
            self.evaluation,
            self.blocking_analysis,
            self.misc,
            self.table_management,
            self.visualisations,
        ):
            wrap_namespace_outputs(_ns)

    def _debug_stage(self, df: DataFrame, name: str) -> DataFrame:
        """When ``debug_mode`` is on, force this stage NOW (count — which
        populates any lazy persist in passing), register it as the temp
        view ``name`` and record it in ``debug_tables``; otherwise a
        no-op passthrough. Mirrors the reference's per-CTE debug
        execution (database_api.py:227-263) at this engine's natural
        stage boundaries — here stages are DataFrame plans, so
        "creating the table" = eager materialization + a catalog view."""
        if not self.debug_mode:
            return df
        import time as _time

        t0 = _time.time()
        n = df.count()
        df.createOrReplaceTempView(name)
        self.debug_tables[name] = df
        print("------")  # noqa: T201 (reference prints in debug mode too)
        print(  # noqa: T201
            f"--------Creating table: {name}--------\n"
            f"{n} rows; step ran in {_time.time() - t0:.2f}s"
        )
        return df

    # -- shared intermediates --------------------------------------------------
    def df_concat(self) -> DataFrame:
        """``__splink__df_concat`` (vertically_concatenate.py:84-93).

        Persisted lazily: it feeds the TF aggregations, deterministic-rule
        blocking (lambda estimation) and the clustering node/output joins —
        without a cache each of those re-reads and re-unions the inputs
        (the reference materializes this stage too, pipeline stage
        ``__splink__df_concat``).
        """
        if self._concat is None:
            df = vertically_concatenate(
                self._frames,
                self.settings.source_dataset_column_name
                if self.settings.needs_source_dataset
                else None,
            )
            # lazy persist: the first consumer's job (usually a TF aggregate
            # or a broadcast build) populates the cache in passing — an eager
            # count here would add a full extra pass over the inputs
            df = self.materialization.materialize(df, "concat", eager=False)
            logger.log(PIPELINE, "stage __splink__df_concat built (%d inputs)",
                       len(self._frames))
            df = self._debug_stage(df, "__splink__df_concat")
            self._concat = df
        return self._concat

    def tf_tables(self) -> dict[str, DataFrame]:
        """One TF table per TF column, built once per linker and persisted
        lazily (the first consumer's broadcast populates it). Every consumer
        — the concat join, online probes, predict_within/between,
        compare_two_records, chart data — reads the same cached table;
        ``invalidate_cache`` releases them."""
        if self._tf_tables is None:
            concat = self.df_concat()
            tfp = self.settings.term_frequency_adjustment_column_prefix
            self._tf_tables = {
                c: self._cache_tf_table(
                    compute_term_frequencies(concat, c, tf_prefix=tfp)
                )
                for c in self.settings.tf_columns
            }
        return self._tf_tables

    def _cache_tf_table(self, tf: DataFrame) -> DataFrame:
        """Persist a TF table in at most ``default_parallelism`` partitions:
        it has ~|distinct values| rows, and a cached plan keeps its shuffle's
        partition count, so every later broadcast of it would otherwise scan
        ``spark.sql.shuffle.partitions`` near-empty partitions."""
        from .internals.misc import default_parallelism

        return self.materialization.materialize(
            tf.coalesce(default_parallelism(self.spark)), "tf_table", eager=False
        )

    def _cache_probe(self, probe: DataFrame) -> DataFrame:
        """Evaluate an online request's probe once into a cache, releasing
        the previous request's. After the evaluation the cached plan's
        statistics are the probe's real size, which is what the planner's
        broadcast decision for the blocking join reads. Always a persist,
        whatever the policy's method: a checkpoint would carry the origin
        plan's size estimate, and a parquet copy would leave files behind
        for every request."""
        from pyspark import StorageLevel

        self.materialization.release(self._probe)
        self._probe = probe.persist(StorageLevel.MEMORY_AND_DISK)
        self.materialization._registry.append(self._probe)
        self._probe.count()
        return self._probe

    def _set_tf_table(self, column: str, tf: DataFrame) -> None:
        """Replace one column's TF table, releasing the cached table it
        replaces and the concat_with_tf built from it."""
        tfs = self.tf_tables()
        self.materialization.release(tfs.get(column))
        tfs[column] = self._cache_tf_table(tf)
        self.materialization.release(self._concat_with_tf)
        self._concat_with_tf = None

    def df_concat_with_tf(self) -> DataFrame:
        """``__splink__df_concat_with_tf`` (vertically_concatenate.py:74-81).

        Persisted lazily: it feeds both sides of every blocking join and
        predict's node re-join (the reference materializes exactly this
        stage, spark/database_api.py:292-312); the first consumer's job
        populates the cache.
        """
        if self._concat_with_tf is None:
            df = join_term_frequencies(self.df_concat(), self.tf_tables())
            # single-file inputs arrive as one partition; a broadcast
            # blocking join would then stream on one core — spread before
            # persisting. The count is the concat's, i.e. its input scans'
            # splits (the broadcast TF joins keep them), read without a job.
            from .internals.misc import default_parallelism, scan_partitions

            target = default_parallelism(self.spark)
            nparts = scan_partitions(self.df_concat())
            if nparts is not None and nparts < target:
                df = df.repartition(target)
            df = self.materialization.materialize(
                df, "concat_with_tf", eager=False
            )
            logger.log(PIPELINE, "stage __splink__df_concat_with_tf built "
                       "(%d tf columns)", len(self.tf_tables()))
            df = self._debug_stage(df, "__splink__df_concat_with_tf")
            self._concat_with_tf = df
        return self._concat_with_tf

    def blocked_pairs(
        self, rules: Optional[Sequence[BlockingRule]] = None, materialize: bool = True
    ) -> DataFrame:
        """``__splink__blocked_id_pairs`` — materialized by default, exactly the
        lineage-break point the reference marks (blocking.py:603-695)."""
        s = self.settings
        rules = list(rules or s.blocking_rules_to_generate_predictions)
        concat = self.df_concat_with_tf()
        split = None
        if s.link_type == "link_only" and s.source_dataset_column_name:
            split = split_link_only_two_datasets(concat, s.source_dataset_column_name)
        if split is not None:
            left, right = split
            pairs = block_using_rules(
                left,
                rules,
                link_type=s.link_type,
                unique_id_column_name=s.unique_id_column_name,
                source_dataset_column_name=s.source_dataset_column_name,
                nodes_right=right,
            )
        else:
            pairs = block_using_rules(
                concat,
                rules,
                link_type=s.link_type,
                unique_id_column_name=s.unique_id_column_name,
                source_dataset_column_name=s.source_dataset_column_name
                if s.needs_source_dataset
                else None,
            )
        if materialize:
            n = self.materialization.repartition_count(pairs, "blocked_pairs")
            if n:
                pairs = pairs.repartition(n)
            pairs = self.materialization.materialize(pairs, "blocked_pairs")
            logger.log(PIPELINE, "stage __splink__blocked_id_pairs "
                       "materialized (%d rules)", len(rules))
            pairs = self._debug_stage(pairs, "__splink__blocked_id_pairs")
        return pairs

    def pairs_with_columns(
        self, rules: Optional[Sequence[BlockingRule]] = None
    ) -> DataFrame:
        """Blocked pairs with their compared columns carried through the
        blocking join (ids + junction for exploding rules) — see
        comparison_vectors.build_pairs_with_columns."""
        s = self.settings
        rules = list(rules or s.blocking_rules_to_generate_predictions)
        concat = self.df_concat_with_tf()
        nodes, nodes_right = concat, None
        if s.link_type == "link_only" and s.source_dataset_column_name:
            split = split_link_only_two_datasets(concat, s.source_dataset_column_name)
            if split is not None:
                nodes, nodes_right = split
        return build_pairs_with_columns(
            nodes, rules, s, nodes_right=nodes_right,
            source_dataset_column_name=s.source_dataset_column_name
            if s.needs_source_dataset
            else None,
        )

    def comparison_vectors(self, pairs: Optional[DataFrame] = None) -> DataFrame:
        if pairs is None:
            with_cols = self.pairs_with_columns()
        else:
            with_cols = blocked_pairs_with_columns(
                pairs, self.df_concat_with_tf(), self.settings
            )
        return self._debug_stage(
            compute_comparison_vectors(with_cols, self.settings),
            "__splink__df_comparison_vectors",
        )


class LinkerInference:
    """linker_components/inference.py."""

    def __init__(self, linker: Linker):
        self._l = linker

    def predict(
        self,
        threshold_match_probability: Optional[float] = None,
        threshold_match_weight: Optional[float] = None,
        num_chunks: int = 1,
        num_chunks_l: Optional[int] = None,
        num_chunks_r: Optional[int] = None,
        cache_result: bool = False,
    ) -> DataFrame:
        """The flagship query (inference.py:294-444): concat → TF → block →
        comparison vectors → score [→ threshold].

        Execution shape: the scored NARROW core (pair keys + gamma vector +
        tf values + match weight/probability — no wide compare columns) is
        lazily persisted, and the returned wide DataFrame re-attaches the
        record columns by joining the node table back on. Downstream
        consumers that only need scores + ids (clustering, truth-space,
        threshold sweeps) read the cached core and never re-run the blocking
        join or the fuzzy-metric UDFs; consumers of the wide row pay only
        the (broadcastable) node re-join. This is the same materialization
        point the reference marks as ``__splink__df_predict``, kept narrow
        because the record columns are recoverable by key.

        ``num_chunks`` > 1 partitions the pair space by deterministic uid-hash
        chunks run as separate jobs and unioned (reference chunking.py:12-42 /
        inference.py:384-444) — the >memory-per-job splitting lever at scale;
        output is identical to the unchunked run. ``num_chunks_l`` /
        ``num_chunks_r`` set the split of each pair endpoint independently
        (reference inference.py:294-444 asymmetric chunking — useful when the
        two sides differ in size, e.g. link_only with a small rhs); either
        defaults to ``num_chunks`` when omitted.

        ``cache_result=True`` additionally persists the WIDE output (opt in
        when >2 downstream consumers scan the full-width rows).
        """
        chunks_l = num_chunks_l if num_chunks_l is not None else num_chunks
        chunks_r = num_chunks_r if num_chunks_r is not None else num_chunks
        if chunks_l < 1 or chunks_r < 1:
            raise ValueError("num_chunks values must be >= 1")
        if chunks_l <= 1 and chunks_r <= 1:
            s = self._l.settings
            # the narrow core below is the lineage break, so the blocking
            # join is NOT separately materialized — blocking (carrying the
            # compared columns) → gamma → score run as ONE fused pipeline
            # into the core's persist.
            if self._l._registered_blocked_pairs is not None:
                # user-registered pair table replaces the blocking join
                # (reference table_management.py:95-140)
                cv = self._l.comparison_vectors(
                    pairs=self._l._registered_blocked_pairs
                )
            else:
                cv = self._l._debug_stage(
                    compute_comparison_vectors(
                        self._l.pairs_with_columns(), s
                    ),
                    "__splink__df_comparison_vectors",
                )
            # score WITHOUT the threshold: a threshold WHERE below the persist
            # would be pushed under the score projection, and Catalyst's
            # filter/project split re-evaluates the fuzzy-metric pandas UDFs
            # once per copy (two ArrowEvalPython passes over every pair —
            # measured ~2x the scoring cost). The unfiltered core is persisted
            # once; the threshold is a cheap WHERE on the cached rows.
            wide = predict_from_comparison_vectors(cv, s)
            # narrow core: project away the compare-value columns (recoverable
            # by key), persist lazily, re-attach the record columns by node
            # re-join for the returned wide frame
            uid = s.unique_id_column_name
            sd = s.source_dataset_column_name if s.needs_source_dataset else None
            keep_prefixes = {uid} | ({sd} if sd else set())
            drop_cols = [
                c
                for c in wide.columns
                if (c.endswith("_l") or c.endswith("_r"))
                and c[:-2] not in keep_prefixes
                and not c.startswith(s.term_frequency_adjustment_column_prefix)
            ]
            if not drop_cols:
                wide = predict_from_comparison_vectors(
                    cv,
                    s,
                    threshold_match_probability=threshold_match_probability,
                    threshold_match_weight=threshold_match_weight,
                )
                return self._cache(wide) if cache_result else wide
            from pyspark import StorageLevel

            narrow = wide.drop(*drop_cols)
            if threshold_match_weight is not None or threshold_match_probability is not None:
                # thresholded predict (VERDICT r3 #4): persist ONLY the
                # surviving rows — at scale a selective threshold means the
                # cache holds ~1% of the pair table, not all of it. A naive
                # WHERE below the persist is 2x: Catalyst substitutes the
                # score aliases into the predicate and pushes the whole
                # scoring expression tree (gamma CASE ladders + similarity
                # UDFs) into the blocking join condition, evaluating it twice
                # per pair (measured; see plan test). Re-aliasing the score
                # columns through a nondeterministic identity
                # (shuffle(array(x))[0] — exact same value, O(1) per row)
                # makes the aliases non-substitutable, so the filter stays a
                # plain attribute comparison directly above ONE scoring pass.
                others = [
                    c for c in narrow.columns
                    if c not in ("match_weight", "match_probability")
                ]

                from .internals.misc import optimizer_barrier

                def _barrier(c: str):
                    return optimizer_barrier(F.col(c)).alias(c)

                narrow = narrow.select(
                    *others, _barrier("match_weight"), _barrier("match_probability")
                )
                if threshold_match_weight is not None:
                    narrow = narrow.where(
                        F.col("match_weight") >= threshold_match_weight
                    )
                if threshold_match_probability is not None:
                    narrow = narrow.where(
                        F.col("match_probability") >= threshold_match_probability
                    )
            narrow = narrow.persist(StorageLevel.MEMORY_AND_DISK)
            self._l.materialization._registry.append(narrow)
            narrow = self._l._debug_stage(narrow, "__splink__df_predict")
            logger.log(PIPELINE, "stage __splink__df_predict narrow core "
                       "persisted (thresholded=%s)",
                       threshold_match_probability is not None
                       or threshold_match_weight is not None)
            rejoin_pairs = narrow.withColumnsRenamed(
                {f"{uid}_l": "join_key_l", f"{uid}_r": "join_key_r"}
                | ({f"{sd}_l": "source_dataset_l", f"{sd}_r": "source_dataset_r"} if sd else {})
            )
            rejoined = blocked_pairs_with_columns(
                rejoin_pairs, self._l.df_concat_with_tf(), s
            )
            # the node re-join re-attaches tf_* columns too — drop the core's
            # copies in favour of the node side's (identical values)
            dup_tf = [
                c for c in narrow.columns
                if c.startswith(s.term_frequency_adjustment_column_prefix)
            ]
            for c in dup_tf:
                rejoined = rejoined.drop(rejoin_pairs[c])
            out = rejoined.select(*wide.columns)
            out._splink_narrow = narrow  # type: ignore[attr-defined]
            return self._cache(out) if cache_result else out
        s = self._l.settings
        # materialize the blocking join ONCE; each chunk filters the cached
        # pair table (reference chunking.py:45-81 caches blocked pairs
        # chunk-aware — re-running the join per chunk defeats the memory
        # lever this API exists for)
        all_pairs = self._l.blocked_pairs(materialize=True)
        out: Optional[DataFrame] = None
        for ci in range(chunks_l):
            for cj in range(chunks_r):
                pairs = all_pairs.where(
                    (F.pmod(F.xxhash64(F.col("join_key_l")), F.lit(chunks_l)) == ci)
                    & (F.pmod(F.xxhash64(F.col("join_key_r")), F.lit(chunks_r)) == cj)
                )
                cv = self._l.comparison_vectors(pairs=pairs)
                scored = predict_from_comparison_vectors(
                    cv,
                    s,
                    threshold_match_probability=threshold_match_probability,
                    threshold_match_weight=threshold_match_weight,
                )
                out = scored if out is None else out.unionByName(scored)
        return self._cache(out) if cache_result else out

    def _cache(self, df: DataFrame) -> DataFrame:
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._l.materialization._registry.append(out)
        return out

    def deterministic_link(self) -> DataFrame:
        """Pairs from the blocking rules alone, no scoring
        (inference.py:223-292)."""
        return self._l.pairs_with_columns()

    def score_pairs(self, id_pairs: DataFrame) -> DataFrame:
        """Score caller-supplied id pairs (inference.py:746-1021). ``id_pairs``
        needs columns join_key_l / join_key_r (unique ids)."""
        if "match_key" not in id_pairs.columns:
            id_pairs = id_pairs.withColumn("match_key", F.lit("user"))
        cv = self._l.comparison_vectors(pairs=id_pairs)
        return predict_from_comparison_vectors(cv, self._l.settings)

    def predict_between(
        self,
        left: DataFrame,
        right: DataFrame,
        blocking_rules: Optional[Sequence[Union[str, BlockingRule]]] = None,
        threshold_match_probability: Optional[float] = None,
        threshold_match_weight: Optional[float] = None,
    ) -> DataFrame:
        """Blocked, scored predictions BETWEEN two record collections using
        the trained model — pairs across left/right only, never within
        (reference inference.py predict_between; left/right are roles, e.g.
        existing vs new, the incremental-linkage shape). TF values for both
        sides come from the linker's base TF tables."""
        from .internals.blocking import CustomRule

        s = self._l.settings
        rules = [
            r if isinstance(r, BlockingRule) else CustomRule(r)
            for r in (blocking_rules or s.blocking_rules_to_generate_predictions)
        ]
        left_tf = join_term_frequencies(left, self._l.tf_tables())
        right_tf = join_term_frequencies(right, self._l.tf_tables())
        with_cols = build_pairs_with_columns(left_tf, rules, s, nodes_right=right_tf)
        cv = compute_comparison_vectors(with_cols, s)
        return predict_from_comparison_vectors(
            cv,
            s,
            threshold_match_probability=threshold_match_probability,
            threshold_match_weight=threshold_match_weight,
        )

    def compute_blocked_pairs_for_predict(self) -> DataFrame:
        """Materialise the candidate pairs predict() would score (reference
        inference.py:124-160) — write them out and re-register via
        ``table_management.register_blocked_pairs_for_predict`` to split
        blocking from scoring across jobs."""
        return self._l.blocked_pairs(materialize=True)

    def compute_blocked_pairs_for_predict_chunk(
        self,
        left_chunk: Optional[tuple] = None,
        right_chunk: Optional[tuple] = None,
    ) -> DataFrame:
        """One uid-hash chunk of the candidate pairs (reference
        inference.py:161-230): ``left_chunk``/``right_chunk`` are
        (index, num_chunks) tuples partitioning each pair endpoint — the
        same deterministic pmod(xxhash64) split chunked predict uses, so
        the union over all (i, j) chunks is exactly the full pair table."""
        pairs = self._l.blocked_pairs(materialize=False)
        for chunk, key in ((left_chunk, "join_key_l"), (right_chunk, "join_key_r")):
            if chunk is None:
                continue
            idx, total = chunk
            if not 0 <= idx < total:
                raise ValueError(f"chunk index {idx} not in [0, {total})")
            pairs = pairs.where(
                F.pmod(F.xxhash64(F.col(key)), F.lit(total)) == idx
            )
        return pairs

    def predict_chunk(
        self,
        left_chunk: Optional[tuple] = None,
        right_chunk: Optional[tuple] = None,
        threshold_match_probability: Optional[float] = None,
        threshold_match_weight: Optional[float] = None,
    ) -> DataFrame:
        """Compute and score blocking for a single slice of the pair space
        (reference inference.py:446-530) — e.g. one worker per slice in a
        split run. ``left_chunk``/``right_chunk`` are (index, num_chunks)
        tuples using the same deterministic ``pmod(xxhash64(uid))`` split as
        chunked ``predict``, so the union over all (i, j) slices equals the
        full predict output. Not supported when blocked pairs were manually
        registered (matching the reference): call ``predict()`` to score a
        registered table."""
        if self._l._registered_blocked_pairs is not None:
            raise ValueError(
                "predict_chunk is not supported when blocked pairs have been "
                "registered via register_blocked_pairs_for_predict; use "
                "predict() to score the registered table"
            )
        pairs = self.compute_blocked_pairs_for_predict_chunk(left_chunk, right_chunk)
        cv = self._l.comparison_vectors(pairs=pairs)
        return predict_from_comparison_vectors(
            cv,
            self._l.settings,
            threshold_match_probability=threshold_match_probability,
            threshold_match_weight=threshold_match_weight,
        )

    def score_pair(
        self, record_left: Union[dict, DataFrame], record_right: Union[dict, DataFrame]
    ) -> DataFrame:
        """Score one pairwise comparison (reference inference.py:746-820);
        dict inputs route through compare_two_records, single-row frames are
        converted."""
        def _as_dict(x):
            if isinstance(x, DataFrame):
                rows = x.limit(2).collect()
                if len(rows) != 1:
                    raise ValueError("score_pair frames must contain exactly one row")
                return rows[0].asDict()
            return x

        return self.compare_two_records(_as_dict(record_left), _as_dict(record_right))

    def find_matches_to_new_records(self, new_records: DataFrame) -> DataFrame:
        """Link a new batch against the indexed base (inference.py:1156-1511
        predict_between + find_matches_to_new_records.py:14-60). TF values for
        new records come from the base's TF tables (the
        register_term_frequency_lookup semantics, table_management.py:204-253).

        Serving shape: the probe (new records joined to the linker's cached
        TF tables) is evaluated once per request into a cache, which gives
        the planner its real size. The cached base is then streamed through
        one equi-join per blocking rule against the probe, which the planner
        broadcasts when it is small, and the compared base columns are
        carried through that join — no ids-only pair table, no junction
        re-join of the base, no row count of the base. Only the latest
        request's probe stays cached: it is released by the next request
        and by ``invalidate_cache``. Exploding rules keep the ids-only join
        and the junction (their pair dedup must run on ids).
        """
        s = self._l.settings
        rules = s.blocking_rules_to_generate_predictions
        base = self._l.df_concat_with_tf()
        probe = self._l._cache_probe(
            join_term_frequencies(new_records, self._l.tf_tables())
        )
        with_cols = build_pairs_with_columns(base, rules, s, nodes_right=probe)
        cv = compute_comparison_vectors(with_cols, s)
        return predict_from_comparison_vectors(cv, s)

    def predict_within(self, new_records: DataFrame) -> DataFrame:
        """Dedupe within a new batch using the trained model + base TF tables
        (inference.py predict_within)."""
        s = self._l.settings
        new_tf = join_term_frequencies(new_records, self._l.tf_tables())
        with_cols = build_pairs_with_columns(
            new_tf, s.blocking_rules_to_generate_predictions, s,
            link_type="dedupe_only",
        )
        cv = compute_comparison_vectors(with_cols, s)
        return predict_from_comparison_vectors(cv, s)

    def score_missing_cluster_edges(
        self, df_clustered: DataFrame, df_predict: DataFrame
    ) -> DataFrame:
        """Score within-cluster pairs the blocking rules never produced
        (inference.py:574-745): self-join clusters on cluster_id, anti-join
        the already-scored edges, score the remainder."""
        s = self._l.settings
        uid = s.unique_id_column_name
        members = df_clustered.select("cluster_id", F.col(uid))
        l = members.select(
            F.col("cluster_id"), F.col(uid).alias("join_key_l")
        )
        r = members.select(
            F.col("cluster_id"), F.col(uid).alias("join_key_r")
        )
        in_cluster = (
            l.join(r, on="cluster_id")
            .where(F.col("join_key_l") < F.col("join_key_r"))
            .select("join_key_l", "join_key_r")
        )
        existing = df_predict.select(
            F.col(f"{uid}_l").alias("join_key_l"),
            F.col(f"{uid}_r").alias("join_key_r"),
        )
        missing = in_cluster.join(
            existing, on=["join_key_l", "join_key_r"], how="left_anti"
        ).withColumn("match_key", F.lit("missing_cluster_edge"))
        return self.score_pairs(missing)

    def compare_two_records(self, record_1: dict, record_2: dict) -> DataFrame:
        """realtime.py:44-159 — score one pair without blocking.

        Record values are coerced to the base table's schema (ISO date /
        timestamp / numeric strings accepted, unparseable → NULL), matching
        the implicit casts users get when the reference registers records
        through its SQL backend."""
        s = self._l.settings
        spark = self._l.spark
        concat = self._l.df_concat()
        r1 = _coerce_record_to_schema(record_1, concat.schema)
        r2 = _coerce_record_to_schema(record_2, concat.schema)
        r1.setdefault(s.unique_id_column_name, 0)
        r2.setdefault(s.unique_id_column_name, 1)
        two = spark.createDataFrame([r1, r2], schema=concat.schema)
        two_tf = join_term_frequencies(two, self._l.tf_tables())
        pairs = spark.createDataFrame(
            [("0", r1[s.unique_id_column_name], r2[s.unique_id_column_name])],
            ["match_key", "join_key_l", "join_key_r"],
        )
        with_cols = blocked_pairs_with_columns(pairs, two_tf, s)
        cv = compute_comparison_vectors(with_cols, s)
        return predict_from_comparison_vectors(cv, s)


class LinkerTraining:
    """linker_components/training.py — filled in by internals/training.py."""

    def __init__(self, linker: Linker):
        self._l = linker

    def estimate_probability_two_random_records_match(
        self, deterministic_rules, recall: float, record_sample_proportion: float = 1.0
    ):
        from .internals.training import estimate_probability_two_random_records_match

        return estimate_probability_two_random_records_match(
            self._l, deterministic_rules, recall,
            record_sample_proportion=record_sample_proportion,
        )

    def estimate_u_using_random_sampling(
        self,
        max_pairs: float = 1e6,
        seed: Optional[int] = None,
        min_count_per_level: Optional[int] = None,
        num_chunks: int = 1,
        sampling_method: str = "xxhash64",
    ):
        from .internals.training import estimate_u_using_random_sampling

        return estimate_u_using_random_sampling(
            self._l,
            max_pairs=max_pairs,
            seed=seed,
            min_count_per_level=min_count_per_level,
            num_chunks=num_chunks,
            sampling_method=sampling_method,
        )

    def estimate_parameters_using_expectation_maximisation(self, blocking_rule, **kw):
        from .internals.training import estimate_parameters_using_em

        return estimate_parameters_using_em(self._l, blocking_rule, **kw)

    def estimate_m_from_label_column(self, label_column: str):
        from .internals.training import estimate_m_from_label_column

        return estimate_m_from_label_column(self._l, label_column)

    def estimate_m_from_pairwise_labels(self, labels: DataFrame):
        from .internals.training import estimate_m_from_pairwise_labels

        return estimate_m_from_pairwise_labels(self._l, labels)


class LinkerClustering:
    """linker_components/clustering.py."""

    def __init__(self, linker: Linker):
        self._l = linker

    def cluster_pairwise_predictions_at_threshold(
        self,
        df_predict: DataFrame,
        threshold_match_probability: Optional[float] = None,
        threshold_match_weight: Optional[float] = None,
    ) -> DataFrame:
        """Reference clustering.py:43-179: threshold defaults to None (keep
        every edge — the deterministic-link output has no score column);
        a match-weight threshold converts via p = 2^w / (1 + 2^w)."""
        from .internals.connected_components import cluster_pairwise_predictions_at_threshold

        if (
            threshold_match_probability is not None
            and threshold_match_weight is not None
        ):
            raise ValueError(
                "Cannot provide both threshold_match_probability and "
                "threshold_match_weight. Please specify only one."
            )
        if threshold_match_weight is not None:
            odds = 2.0 ** float(threshold_match_weight)
            threshold_match_probability = odds / (1.0 + odds)
        return cluster_pairwise_predictions_at_threshold(
            self._l, df_predict, threshold_match_probability
        )

    def cluster_pairwise_predictions_at_multiple_thresholds(
        self, df_predict: DataFrame, thresholds: Sequence[float]
    ) -> DataFrame:
        from .internals.one_to_one import cluster_at_multiple_thresholds

        s = self._l.settings
        uid = s.unique_id_column_name
        df_predict = getattr(df_predict, "_splink_narrow", df_predict)
        concat = self._l.df_concat()
        # composite node ids for link jobs: uids are only unique PER DATASET
        # (same reason cluster_pairwise_predictions_at_threshold builds them)
        sd = s.source_dataset_column_name if s.needs_source_dataset else None
        if sd and sd in concat.columns:
            node_expr = F.concat_ws(
                "-__-", F.col(sd).cast("string"), F.col(uid).cast("string")
            )
            edge_l = F.concat_ws(
                "-__-", F.col(f"{sd}_l").cast("string"), F.col(f"{uid}_l").cast("string")
            )
            edge_r = F.concat_ws(
                "-__-", F.col(f"{sd}_r").cast("string"), F.col(f"{uid}_r").cast("string")
            )
        else:
            node_expr = F.col(uid)
            edge_l = F.col(f"{uid}_l")
            edge_r = F.col(f"{uid}_r")
        edges = df_predict.select(
            edge_l.alias("node_id_l"),
            edge_r.alias("node_id_r"),
            "match_probability",
        )
        nodes = concat.select(node_expr.alias("node_id"))
        return cluster_at_multiple_thresholds(
            edges, nodes, list(thresholds), materialization=self._l.materialization
        )

    def cluster_using_single_best_links(
        self,
        df_predict: DataFrame,
        threshold_match_probability: float = 0.5,
        ties: str = "drop",
        duplicate_free_datasets=None,
    ) -> DataFrame:
        from .internals.one_to_one import cluster_using_single_best_links

        s = self._l.settings
        uid = s.unique_id_column_name
        sd = s.source_dataset_column_name
        if not sd:
            raise ValueError("single-best-links clustering needs source datasets")
        df_predict = getattr(df_predict, "_splink_narrow", df_predict)
        # composite node ids: uids are only unique PER DATASET (same reason
        # cluster_pairwise_predictions_at_threshold builds them) — bare uids
        # would conflate colliding records across datasets into one graph
        # node and corrupt the per-cluster dataset flags
        node_expr = F.concat_ws(
            "-__-", F.col(sd).cast("string"), F.col(uid).cast("string")
        )
        edge_l = F.concat_ws(
            "-__-", F.col(f"{sd}_l").cast("string"), F.col(f"{uid}_l").cast("string")
        )
        edge_r = F.concat_ws(
            "-__-", F.col(f"{sd}_r").cast("string"), F.col(f"{uid}_r").cast("string")
        )
        edges = df_predict.select(
            edge_l.alias("node_id_l"),
            edge_r.alias("node_id_r"),
            F.col(f"{sd}_l").alias("source_dataset_l"),
            F.col(f"{sd}_r").alias("source_dataset_r"),
            "match_probability",
        )
        nodes = self._l.df_concat().select(
            node_expr.alias("node_id"), F.col(sd).alias("source_dataset")
        )
        return cluster_using_single_best_links(
            edges,
            nodes,
            threshold_match_probability=threshold_match_probability,
            ties=ties,
            duplicate_free_datasets=duplicate_free_datasets,
            materialization=self._l.materialization,
        )

    def compute_graph_metrics(
        self, df_predict: DataFrame, df_clustered: DataFrame,
        threshold_match_probability: float = 0.5,
    ) -> DataFrame:
        from .internals.connected_components import compute_graph_metrics

        edges, assignments = self._edges_and_assignments(
            df_predict, df_clustered, threshold_match_probability
        )
        return compute_graph_metrics(edges, assignments)

    def compute_edge_metrics(
        self, df_predict: DataFrame, df_clustered: DataFrame,
        threshold_match_probability: float = 0.5,
    ) -> DataFrame:
        """Thresholded edges + is_bridge flag (reference edge_metrics.py:
        75-160, igraph-on-driver → here per-cluster Tarjan in applyInPandas)."""
        from .internals.connected_components import compute_edge_metrics

        edges, assignments = self._edges_and_assignments(
            df_predict, df_clustered, threshold_match_probability
        )
        return compute_edge_metrics(edges, assignments)

    def _edges_and_assignments(
        self, df_predict: DataFrame, df_clustered: DataFrame,
        threshold_match_probability: float,
    ) -> tuple[DataFrame, DataFrame]:
        s = self._l.settings
        uid = s.unique_id_column_name
        sd = s.source_dataset_column_name if s.needs_source_dataset else None
        df_predict = getattr(df_predict, "_splink_narrow", df_predict)
        # composite node ids for link jobs — clustering keyed nodes on
        # (dataset, uid), so graph/edge metrics must too, or colliding uids
        # conflate records and duplicate edge-join matches
        if sd and f"{sd}_l" in df_predict.columns and sd in df_clustered.columns:
            edge_l = F.concat_ws(
                "-__-", F.col(f"{sd}_l").cast("string"), F.col(f"{uid}_l").cast("string")
            )
            edge_r = F.concat_ws(
                "-__-", F.col(f"{sd}_r").cast("string"), F.col(f"{uid}_r").cast("string")
            )
            node = F.concat_ws(
                "-__-", F.col(sd).cast("string"), F.col(uid).cast("string")
            )
        else:
            edge_l, edge_r, node = (
                F.col(f"{uid}_l"), F.col(f"{uid}_r"), F.col(uid),
            )
        edges = df_predict.where(
            F.col("match_probability") >= threshold_match_probability
        ).select(edge_l.alias("node_id_l"), edge_r.alias("node_id_r"))
        assignments = df_clustered.select(node.alias("node_id"), "cluster_id")
        return edges, assignments


class LinkerEvaluation:
    """linker_components/evaluation.py."""

    def __init__(self, linker: Linker):
        self._l = linker

    @staticmethod
    def _accuracy_output(table: DataFrame, output_type: str):
        """Reference evaluation.py output_type switch: 'table' returns the
        truth-space DataFrame; the chart types return a Vega-Lite spec built
        from it ('threshold_selection' is the reference's interactive
        two-panel tool: metric lines with hover selection driving the
        confusion-count panel). The collect is bounded: one row per distinct
        score threshold."""
        if output_type == "table":
            return table
        from .internals.chart_specs import (
            accuracy_chart_spec,
            precision_recall_chart_spec,
            roc_chart_spec,
            threshold_selection_tool_spec,
        )

        rows = [r.asDict() for r in table.collect()]
        if output_type == "roc":
            return roc_chart_spec(rows)
        if output_type == "precision_recall":
            return precision_recall_chart_spec(rows)
        if output_type == "threshold_selection":
            return threshold_selection_tool_spec(rows)
        if output_type == "accuracy":
            return accuracy_chart_spec(rows)
        raise ValueError(
            "output_type must be one of 'threshold_selection', 'roc', "
            f"'precision_recall', 'accuracy', 'table' — got {output_type!r}"
        )

    def accuracy_analysis_from_labels_column(
        self,
        labels_column: str,
        df_predict: Optional[DataFrame] = None,
        *,
        output_type: str = "threshold_selection",
        **_style_kwargs,
    ):
        from .internals.accuracy import truth_space_table_from_labels_column

        table = truth_space_table_from_labels_column(
            self._l, labels_column, df_predict
        )
        return self._accuracy_output(table, output_type)

    def accuracy_analysis_from_labels_table(
        self,
        labels: DataFrame,
        threshold_actual: float = 0.5,
        *,
        output_type: str = "threshold_selection",
        **_style_kwargs,
    ):
        """Truth space judged against a clerical pairwise labels table
        (unique_id_l, unique_id_r [, source_dataset_l/_r,
        clerical_match_score]) — every labelled pair is scored with the
        model whether or not blocking found it (reference
        evaluation.py accuracy_analysis_from_labels_table).
        ``output_type`` follows the reference: default
        'threshold_selection' returns a chart spec; pass 'table' for the
        truth-space DataFrame."""
        from .internals.accuracy import truth_space_table_from_labels_table

        table = truth_space_table_from_labels_table(
            self._l, labels, threshold_actual
        )
        return self._accuracy_output(table, output_type)

    def prediction_errors_from_labels_table(
        self,
        labels: DataFrame,
        threshold_match_probability: float = 0.5,
        threshold_actual: float = 0.5,
        include_false_positives: bool = True,
        include_false_negatives: bool = True,
    ) -> DataFrame:
        from .internals.accuracy import prediction_errors_from_labels_table

        return prediction_errors_from_labels_table(
            self._l,
            labels,
            threshold_match_probability=threshold_match_probability,
            threshold_actual=threshold_actual,
            include_false_positives=include_false_positives,
            include_false_negatives=include_false_negatives,
        )

    def prediction_errors_from_labels_column(
        self, labels_column: str, df_predict: Optional[DataFrame] = None,
        threshold_match_probability: float = 0.5, **kw,
    ) -> DataFrame:
        from .internals.accuracy import prediction_errors_from_labels_column

        return prediction_errors_from_labels_column(
            self._l, labels_column, df_predict, threshold_match_probability, **kw
        )

    def unlinkables_table(self) -> DataFrame:
        from .internals.accuracy import unlinkables_table

        return unlinkables_table(self._l)

    def unlinkables_chart(
        self,
        x_col: str = "match_weight",
        name_of_data_in_title: Optional[str] = None,
        as_dict: bool = False,
    ):
        """Reference-named chart (evaluation.py:352): Vega-Lite spec of the
        cumulative unlinkables proportion (reference charts.py
        UnlinkablesChart). The collect is bounded: one row per distinct
        2-dp-rounded self-match weight. The underlying DataFrame stays
        available via :meth:`unlinkables_table`."""
        from .internals.chart_specs import unlinkables_chart_spec

        rows = [r.asDict() for r in self.unlinkables_table().collect()]
        return unlinkables_chart_spec(rows)

    def labelling_tool_for_specific_record(
        self,
        unique_id,
        source_dataset: Optional[str] = None,
        match_weight_threshold: float = -4,
        out_path: Optional[str] = None,
        overwrite: bool = False,
        **_style_kwargs,
    ) -> DataFrame:
        """Data layer for the reference's clerical-labelling tool
        (labelling_tool.py:20-70): every input record is scored against the
        record of interest under a FULL block (all records on the ``_l``
        side), then filtered to ``match_weight > match_weight_threshold``.
        With ``out_path`` also writes a standalone HTML labelling page
        (candidate table + match/not/unsure radios + labels-JSON download —
        internals/dashboards.py); the scored candidate DataFrame is
        returned either way."""
        s = self._l.settings
        uid = s.unique_id_column_name
        sd = s.source_dataset_column_name if s.needs_source_dataset else None
        if sd and source_dataset is None:
            raise ValueError(
                "multiple input datasets: pass source_dataset= to identify "
                "the record"
            )
        base = self._l.df_concat()
        cols = [F.col(uid).alias("join_key_l")]
        if sd:
            cols.append(F.col(sd).alias("source_dataset_l"))
        pairs = base.select(*cols).withColumn("join_key_r", F.lit(unique_id))
        if sd:
            pairs = pairs.withColumn("source_dataset_r", F.lit(source_dataset))
        scored = self._l.inference.score_pairs(pairs)
        candidates = scored.where(F.col("match_weight") > match_weight_threshold)
        if out_path:
            import os

            if os.path.isfile(out_path) and not overwrite:
                raise ValueError(
                    f"The path {out_path} already exists. Set overwrite=True "
                    "to overwrite."
                )
            from .internals.dashboards import render_labelling_tool_html

            render_labelling_tool_html(
                [r.asDict() for r in candidates.collect()],
                unique_id_column_name=uid,
                out_path=out_path,
            )
        return candidates


class LinkerMisc:
    """linker_components/misc.py + table_management.py equivalents."""

    def __init__(self, linker: Linker):
        self._l = linker

    def query_sql(self, sql: str, views: Optional[Mapping[str, DataFrame]] = None) -> DataFrame:
        """The SQL escape hatch (database_api.py:180-205): register the given
        DataFrames (plus the concat) as temp views and run arbitrary SQL."""
        self._l.df_concat().createOrReplaceTempView("__splink__df_concat")
        for name, df in (views or {}).items():
            df.createOrReplaceTempView(name)
        return self._l.spark.sql(sql)

    def save_model_to_json(
        self, out_path: Optional[str] = None, overwrite: bool = False
    ) -> dict:
        """Save the model settings+parameters as JSON and return the dict
        (reference linker_components/misc.py:19-48: ``out_path=None`` means
        return-only; refuses to clobber unless ``overwrite=True``)."""
        d = self._l.settings.as_dict()
        if out_path is not None:
            import json
            import os

            if os.path.exists(out_path) and not overwrite:
                raise ValueError(
                    f"The path {out_path} already exists. Please provide a "
                    "different path or set overwrite=True."
                )
            with open(out_path, "w") as f:
                json.dump(d, f, indent=4)
        return d

    def invalidate_cache(self) -> None:
        """Drop cached intermediates (table_management cache invalidation)."""
        self._l.materialization.unpersist_all()
        self._l._concat = None
        self._l._concat_with_tf = None
        self._l._tf_tables = None
        self._l._probe = None
        self._l._registered_blocked_pairs = None


class LinkerTableManagement:
    """linker_components/table_management.py equivalents. Spark-native
    mapping: 'registering a table' = handing the Linker a DataFrame to use in
    place of a computed intermediate; deletion = dropping the cache."""

    def __init__(self, linker: Linker):
        self._l = linker

    def compute_tf_table(self, column_name: str) -> DataFrame:
        """Term-frequency table for one column (reference
        table_management.py:37-93). Computed from the concat and cached in
        the linker's TF dict so predict reuses it; the concat_with_tf cache
        is released so the next consumer rebuilds it with the new column."""
        tfs = self._l.tf_tables()
        if column_name not in tfs:
            self._l._set_tf_table(
                column_name,
                compute_term_frequencies(
                    self._l.df_concat(),
                    column_name,
                    tf_prefix=self._l.settings.term_frequency_adjustment_column_prefix,
                ),
            )
        return tfs[column_name]

    def register_term_frequency_lookup(
        self, df: DataFrame, column_name: str
    ) -> None:
        """Override the TF lookup for a column with a precomputed table —
        e.g. global frequencies estimated from a much larger corpus than the
        input (reference table_management.py:204-252). Expected columns:
        (``column_name``, tf_``column_name``)."""
        tfp = self._l.settings.term_frequency_adjustment_column_prefix
        expected = {column_name, f"{tfp}{column_name}"}
        if not expected.issubset(set(df.columns)):
            raise ValueError(
                f"TF lookup for {column_name!r} needs columns {sorted(expected)}, "
                f"got {df.columns}"
            )
        self._l._set_tf_table(column_name, df)

    def register_table_predict(self, df: DataFrame) -> DataFrame:
        """Use a previously saved predict output (e.g. read back from
        parquet) for downstream clustering/evaluation without re-scoring
        (reference table_management.py:168-202). The frame is persisted and
        tagged the same way a fresh predict's narrow core is."""
        from pyspark import StorageLevel

        uid = self._l.settings.unique_id_column_name
        required = {f"{uid}_l", f"{uid}_r", "match_probability"}
        missing = required - set(df.columns)
        if missing:
            raise ValueError(
                f"register_table_predict: input is missing predict-output "
                f"columns {sorted(missing)} (got {df.columns}) — save and "
                "re-register predict's output (the narrow core or the wide "
                "frame both qualify)"
            )
        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._l.materialization._registry.append(cached)
        cached._splink_narrow = cached  # type: ignore[attr-defined]
        return cached

    def register_table(self, df: DataFrame, name: str) -> DataFrame:
        """Register a DataFrame as a temp view usable from
        ``linker.misc.query_sql`` (reference table_management.py:266-330)."""
        df.createOrReplaceTempView(name)
        return df

    def register_blocked_pairs_for_predict(self, df: DataFrame) -> DataFrame:
        """Use a precomputed candidate-pair table for predict() instead of
        running the blocking join (reference table_management.py:95-140).
        Expected columns: join_key_l / join_key_r (unique ids), optional
        match_key and source_dataset_l/_r."""
        missing = {"join_key_l", "join_key_r"} - set(df.columns)
        if missing:
            raise ValueError(
                f"register_blocked_pairs_for_predict: missing {sorted(missing)} "
                f"(got {df.columns})"
            )
        if "match_key" not in df.columns:
            df = df.withColumn("match_key", F.lit("registered"))
        from pyspark import StorageLevel

        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._l.materialization._registry.append(cached)
        self._l._registered_blocked_pairs = cached
        return cached

    def register_labels_table(self, df: DataFrame) -> DataFrame:
        """Persist a clerical pairwise labels table for the labels-table
        evaluation/training APIs (reference table_management.py:254-261).
        Expected columns: unique_id_l, unique_id_r
        [, source_dataset_l/_r, clerical_match_score]."""
        missing = {"unique_id_l", "unique_id_r"} - set(df.columns)
        if missing:
            raise ValueError(
                f"register_labels_table: missing {sorted(missing)} (got {df.columns})"
            )
        from pyspark import StorageLevel

        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._l.materialization._registry.append(cached)
        return cached

    def invalidate_cache(self) -> None:
        self._l.misc.invalidate_cache()

    def delete_tables_created_by_splink_from_db(self) -> None:
        """Spark-native equivalent: unpersist every intermediate this linker
        materialized (reference table_management.py:263-264)."""
        self._l.misc.invalidate_cache()


class LinkerVisualisations:
    """linker_components/visualisations.py — DATA layer only. The reference
    renders Altair/Vega; chart rendering is out of engine scope (SURVEY §0),
    so each method returns the DataFrame / record list the chart consumes."""

    def __init__(self, linker: Linker):
        self._l = linker

    def match_weights_chart_data(self) -> list[dict]:
        from .internals.chart_data import match_weights_chart_data

        return match_weights_chart_data(self._l.settings)

    def parameter_estimate_comparisons_data(self) -> list[dict]:
        """Per-session m/u estimates per comparison level — the data behind
        the reference's parameter_estimate_comparisons_chart
        (visualisations.py): one record per (comparison, gamma, session,
        parameter) so divergent training sessions are visible."""
        out: list[dict] = []
        for comp in self._l.settings.comparisons:
            for lv in comp.comparison_levels:
                if lv.is_null_level:
                    continue
                for kind, ests in (("m", lv._m_estimates), ("u", lv._u_estimates)):
                    for i, v in enumerate(ests):
                        out.append(
                            {
                                "comparison": comp.output_column_name,
                                "comparison_vector_value": lv.comparison_vector_value,
                                "label": lv.label_for_charts,
                                "estimate_number": i,
                                "parameter": f"{kind}_probability",
                                "estimated_value": v,
                            }
                        )
        return out

    def m_u_parameters_chart_data(self) -> list[dict]:
        from .internals.chart_data import m_u_parameters_chart_data

        return m_u_parameters_chart_data(self._l.settings)

    def match_weights_histogram_data(
        self, df_predict: DataFrame, num_bins: int = 100
    ) -> DataFrame:
        from .internals.chart_data import match_weights_histogram_data

        df_predict = getattr(df_predict, "_splink_narrow", df_predict)
        return match_weights_histogram_data(df_predict, num_bins=num_bins)

    def comparison_vector_distribution(self, df_predict: DataFrame) -> DataFrame:
        from .internals.chart_data import comparison_vector_distribution

        df_predict = getattr(df_predict, "_splink_narrow", df_predict)
        return comparison_vector_distribution(df_predict, self._l.settings)

    def tf_adjustment_chart_data(
        self,
        output_column_name: str,
        n_most_freq: Optional[int] = 10,
        n_least_freq: Optional[int] = 10,
        vals_to_include=None,
    ) -> DataFrame:
        from .internals.chart_data import tf_adjustment_chart_data

        return tf_adjustment_chart_data(
            self._l,
            output_column_name,
            n_most_freq=n_most_freq,
            n_least_freq=n_least_freq,
            vals_to_include=vals_to_include,
        )

    def waterfall_data(self, scored_records) -> list[dict]:
        from .internals.chart_data import waterfall_data

        if isinstance(scored_records, DataFrame):
            scored_records = [r.asDict() for r in scored_records.collect()]
        return waterfall_data(self._l.settings, scored_records)

    def cluster_studio_sample(
        self,
        df_clustered: DataFrame,
        df_predict: DataFrame,
        sampling_method: str = "random",
        sample_size: int = 10,
        cluster_ids=None,
        threshold_match_probability: float = 0.5,
    ):
        from .internals.chart_data import cluster_studio_sample

        df_predict = getattr(df_predict, "_splink_narrow", df_predict)
        return cluster_studio_sample(
            df_clustered,
            df_predict,
            self._l.settings,
            sampling_method=sampling_method,
            sample_size=sample_size,
            cluster_ids=cluster_ids,
            threshold_match_probability=threshold_match_probability,
        )

    # -- reference-named chart methods -------------------------------------
    # Each returns a ready-to-render Vega-Lite spec dict (internals/
    # chart_specs.py — the same dict the reference's ``as_dict=True`` path
    # yields, renderable in notebooks via _repr_mimebundle_ and by
    # altair.Chart.from_dict). The underlying DATA stays available through
    # the ``*_chart_data`` methods above; signatures mirror the reference's
    # visualisations.py so user code runs unmodified, with pure-styling
    # arguments accepted and ignored.

    def match_weights_chart(self, as_dict: bool = False):
        """visualisations.py:59 → match weight per comparison level
        (reference chart spec: charts.py MatchWeightsChart)."""
        from .internals.chart_specs import match_weights_chart_spec

        return match_weights_chart_spec(self.match_weights_chart_data())

    def m_u_parameters_chart(self, as_dict: bool = False):
        """visualisations.py:161 → m/u per comparison level (reference
        charts.py MUParametersChart)."""
        from .internals.chart_specs import m_u_parameters_chart_spec

        return m_u_parameters_chart_spec(self.m_u_parameters_chart_data())

    def parameter_estimate_comparisons_chart(self, include_m: bool = True,
                                             include_u: bool = True):
        """visualisations.py:223 → per-session m/u estimates (reference
        charts.py ParameterEstimateComparisonsChart)."""
        from .internals.chart_specs import (
            parameter_estimate_comparisons_chart_spec,
        )

        recs = self.parameter_estimate_comparisons_data()
        kinds = (["m_probability"] if include_m else []) + (
            ["u_probability"] if include_u else []
        )
        return parameter_estimate_comparisons_chart_spec(
            [r for r in recs if r["parameter"] in kinds]
        )

    def match_weights_histogram(
        self, df_predict: DataFrame, target_bins: int = 100, width=None, height=None
    ):
        """visualisations.py:119 → histogram over binned match-weight counts
        (reference charts.py MatchWeightsHistogramChart). The collect is
        bounded by the bin count."""
        from .internals.chart_specs import match_weights_histogram_spec

        rows = [
            r.asDict()
            for r in self.match_weights_histogram_data(
                df_predict, num_bins=target_bins
            ).collect()
        ]
        return match_weights_histogram_spec(rows)

    def tf_adjustment_chart(
        self,
        output_column_name: str,
        n_most_freq: Optional[int] = 10,
        n_least_freq: Optional[int] = 10,
        vals_to_include=None,
        as_dict: bool = False,
    ):
        """visualisations.py:196 → TF adjustment per value (reference
        charts.py TFAdjustmentChart). The collect is bounded by the
        most/least-frequent rank cutoffs."""
        from .internals.chart_specs import tf_adjustment_chart_spec

        rows = [
            r.asDict()
            for r in self.tf_adjustment_chart_data(
                output_column_name,
                n_most_freq=n_most_freq,
                n_least_freq=n_least_freq,
                vals_to_include=vals_to_include,
            ).collect()
        ]
        return tf_adjustment_chart_spec(rows, output_column_name)

    def waterfall_chart(
        self, records, filter_nulls: bool = True, remove_sensitive_data: bool = False
    ):
        """visualisations.py:257 → per-comparison weight contributions for
        each scored record, with a record-selector param (reference
        charts.py WaterfallChart)."""
        from .internals.chart_specs import waterfall_chart_spec

        return waterfall_chart_spec(self.waterfall_data(records))

    def comparison_viewer_dashboard(
        self,
        df_predict: DataFrame,
        out_path: Optional[str] = None,
        overwrite: bool = False,
        num_example_rows: int = 2,
    ) -> DataFrame:
        """visualisations.py:302: the comparison-vector distribution; with
        ``out_path`` also writes a standalone HTML viewer (distribution
        chart + per-pattern example pairs — internals/dashboards.py). The
        distribution DataFrame is returned either way. Collects are bounded:
        the (tiny) grouped distribution + num_example_rows per pattern."""
        dist = self.comparison_vector_distribution(df_predict)
        if out_path:
            import os

            if os.path.isfile(out_path) and not overwrite:
                raise ValueError(
                    f"The path {out_path} already exists. Set overwrite=True "
                    "to overwrite."
                )
            from pyspark.sql.window import Window

            from .internals.dashboards import render_comparison_viewer_html

            narrow = getattr(df_predict, "_splink_narrow", df_predict)
            gamma_cols = [
                c.gamma_column_name for c in self._l.settings.comparisons
            ]
            pat = F.concat_ws(
                ",", *[F.col(g).cast("string") for g in gamma_cols]
            ).alias("__pat")
            w = Window.partitionBy("__pat").orderBy(
                F.desc("match_weight"),
                F.asc(f"{self._l.settings.unique_id_column_name}_l"),
            )
            examples = (
                narrow.select("*", pat)
                .withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= num_example_rows)
                .drop("__rn")
                .collect()
            )
            by_pattern: dict[str, list] = {}
            for r in examples:
                d = r.asDict()
                by_pattern.setdefault(d.pop("__pat"), []).append(d)
            render_comparison_viewer_html(
                [r.asDict() for r in dist.collect()],
                by_pattern,
                out_path=out_path,
            )
        return dist

    def cluster_studio_dashboard(
        self,
        df_predict: DataFrame,
        df_clustered: DataFrame,
        out_path: Optional[str] = None,
        sampling_method: str = "random",
        sample_size: int = 10,
        cluster_ids=None,
        cluster_names=None,
        overwrite: bool = False,
    ):
        """visualisations.py:371: the sampled cluster subgraphs; with
        ``out_path`` also writes a standalone HTML cluster studio (cluster
        selector + force-directed node-link view + member table —
        internals/dashboards.py). Returns the (nodes, edges) DataFrames
        either way; the collect is bounded by the cluster sample."""
        nodes, edges = self.cluster_studio_sample(
            df_clustered,
            df_predict,
            sampling_method=sampling_method,
            sample_size=sample_size,
            cluster_ids=cluster_ids,
        )
        if out_path:
            import os

            if os.path.isfile(out_path) and not overwrite:
                raise ValueError(
                    f"The path {out_path} already exists. Set overwrite=True "
                    "to overwrite."
                )
            from .internals.dashboards import render_cluster_studio_html

            render_cluster_studio_html(
                [r.asDict() for r in nodes.collect()],
                [r.asDict() for r in edges.collect()],
                unique_id_column_name=self._l.settings.unique_id_column_name,
                out_path=out_path,
            )
        return nodes, edges


class LinkerBlockingAnalysis:
    """linker_components/blocking_analysis.py."""

    def __init__(self, linker: Linker):
        self._l = linker

    def count_comparisons_from_blocking_rules(
        self, rules=None, record_sample_proportion: float = 1.0
    ) -> list[dict]:
        """Marginal/cumulative comparison counts per rule, one Spark job for
        all rules; ``record_sample_proportion`` < 1 estimates from a
        deterministic record sample (reference blocking_analysis.py:601-677)."""
        s = self._l.settings
        return count_comparisons_per_rule(
            self._l.df_concat(),
            list(rules or s.blocking_rules_to_generate_predictions),
            link_type=s.link_type,
            unique_id_column_name=s.unique_id_column_name,
            source_dataset_column_name=s.source_dataset_column_name
            if s.needs_source_dataset
            else None,
            record_sample_proportion=record_sample_proportion,
        )

    def estimate_comparisons_pre_filter(self, blocking_rule: BlockingRule) -> DataFrame:
        """Pre-filter per-key count products — no blocking join executed
        (reference blocking_analysis.py:78-190)."""
        from .internals.blocking import estimate_comparisons_pre_filter

        s = self._l.settings
        return estimate_comparisons_pre_filter(
            self._l.df_concat(),
            blocking_rule,
            link_type=s.link_type,
            unique_id_column_name=s.unique_id_column_name,
        )

    def n_largest_blocks(self, blocking_rule: BlockingRule, n: int = 5) -> DataFrame:
        """The key VALUES responsible for the largest blocks, pre-filter
        (reference blocking_analysis.py:725-784): (key_0..key_k, count_l,
        count_r, block_count) ordered by block_count desc, limit n."""
        from .internals.blocking import n_largest_blocks

        s = self._l.settings
        return n_largest_blocks(
            self._l.df_concat(),
            blocking_rule,
            link_type=s.link_type,
            unique_id_column_name=s.unique_id_column_name,
            n_largest=n,
        )


def _coerce_record_to_schema(rec: dict, schema) -> dict:
    """Cast string record values to the schema's date/timestamp/numeric
    types (ISO formats); unparseable values become NULL, mirroring the
    implicit TRY_CAST the reference's SQL backends apply when registering
    python records against an existing table."""
    import datetime

    out = dict(rec)
    for f in schema.fields:
        v = out.get(f.name)
        if v is None or not isinstance(v, str):
            continue
        t = f.dataType.typeName()
        try:
            if t == "date":
                out[f.name] = datetime.date.fromisoformat(v)
            elif t == "timestamp":
                out[f.name] = datetime.datetime.fromisoformat(
                    v.replace("Z", "+00:00")
                )
            elif t in ("long", "integer", "short", "byte"):
                out[f.name] = int(v)
            elif t in ("double", "float"):
                out[f.name] = float(v)
            elif t == "decimal":
                from decimal import Decimal

                out[f.name] = Decimal(v)
        except (ValueError, ArithmeticError):
            out[f.name] = None
    return out


def _normalise_frames(inp: FrameInput) -> dict[str, DataFrame]:
    def _name(df, default):
        # frames registered through SparkAPI.register carry their
        # dataset_display_name (reference database_api.py:267-303)
        return getattr(df, "_splink_dataset_display_name", None) or default

    if isinstance(inp, DataFrame):
        return {_name(inp, "__input__"): inp}
    if isinstance(inp, Mapping):
        return dict(inp)
    return {_name(df, f"table_{i}"): df for i, df in enumerate(inp)}
