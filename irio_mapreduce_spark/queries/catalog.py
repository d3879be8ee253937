"""Registry mapping query name -> (Spark callable, optional DuckDB oracle SQL).

Every operator declared done in SURVEY.md §2 has an entry here; the driver
runs the Spark callable and the oracle SQL side-by-side at sf0.01 and
hash-compares results (CORRECTNESS_r{N}.json). Conventions that make the
comparison meaningful:

* every computed/aggregate column is aliased identically on both sides
  (the driver sorts columns BY NAME before hashing);
* floating-point aggregates are ``round()``-ed on both sides (Spark and
  DuckDB sum in different orders; unrounded doubles would hash-mismatch);
* no raw timestamp columns in outputs — formatted to strings on both sides
  (timezone-independent);
* results are sets: any ORDER BY inside a query exists only to make limits /
  ranks deterministic (unique tie-breaks), never for output order;
* integer-valued ``sum()`` is CAST to BIGINT in the oracle (DuckDB types an
  integer sum / ``list_sum`` as HUGEINT, which pandas materializes as
  float64 -> ``5995.0`` vs Spark's ``5995`` hash-mismatches);
* double sums needing rounding accumulate as ``DECIMAL(38,10)`` on BOTH
  sides then cast back to double — decimal addition is exact and
  partition-merge-order-insensitive, so the subsequent ``round`` can never
  straddle a boundary run-to-run; prefer rounding the DECIMAL itself and
  casting after (``round(dec, 2)::DOUBLE``): rounding the cast double
  still hits exact half-boundary values that the engines break
  differently (found at sf0.1 by q11: 290998.915 → .92 vs .91);
* no array/map/struct columns in any output — even rows-only checks
  canonicalize via pandas ``sort_values``, which crashes on unhashable
  cells; wrap with ``to_json`` / ``array_join`` / explode to rows;
* when per-term values are rational, prefer FIXED-POINT BIGINT arithmetic
  (``(num * 10^k) div den``, exact integer sums) over casting the double
  quotient to DECIMAL: the double→DECIMAL cast itself rounds differently
  between engines in the last ulp (Spark rounds the exact BigDecimal
  expansion, DuckDB the double-scaled product), and DuckDB's
  DECIMAL→DOUBLE conversion double-rounds where Spark's is correctly
  rounded — both observed (pagerank 5/1600 nodes; OLS moments). Casting
  an exact BIGINT to double is correctly rounded in both engines, so a
  fixed sequence of scalar IEEE ops on integer moments can even
  hash-match UNROUNDED doubles (``stats_ols_price_vs_qty``).

* INDEPENDENT DERIVATION (the r10 month-encoding lesson): the oracle
  must not share data-shaping fragments (axis encodings, bucketing
  formulas, series construction) with the query under test — a shared
  fragment makes the hash blind to same-wrong-value bugs (the yyyyMM
  month axis deflated every cross-year Theil-Sen slope ~89x ON BOTH
  ENGINES and would have hash-matched). Where sharing a fragment is the
  point (the Welch / OLS-2 Cramer templates, formatted into both engines
  so the IEEE op trees are structurally identical and unrounded doubles
  hash-match), the shared formula itself must be pinned against FIRST
  PRINCIPLES by a property test (an independent implementation or
  invariant — tests/test_properties.py, "Shared-fragment oracle sweep"
  section); mirrored-but-independently-written formulas with zero
  rounding slack get the same treatment.

These conventions are enforced by tests/test_conventions.py.

Queries whose semantics are intentionally approximate or non-SQL (HLL counts,
LSH bucketing, streaming state) register with ``oracle=None`` -> the driver
records a weaker rows-only check and pytest covers them with bound checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# The external correctness driver checks the FIRST 50 entries of
# ``all_queries()`` per round, so listing order is the scoreboard rotation
# dial. This list pins the front of the window explicitly; everything else
# follows in module-registration order. Since round 11 (the r1-r10
# driver-green union covers the ENTIRE catalog), rotation is a REFRESH
# cycle — this round's fresh entries lead (never driver-checked, the r11
# deferred pair first per the overflow valve), and the remaining slots go
# to the entries whose latest
# driver-green row is OLDEST (the r3/r4 vintage), so attestation
# freshness stays bounded. Rotated-out entries keep their standing driver
# rows and stay fully oracle-tested in tests/test_oracle.py.
# tests/test_conventions.py asserts both the registry consistency and the
# refresh discipline (window refresh slots = globally oldest-attested).
FRONT_WINDOW: list[str] = [
    # round-12 head: the two entries that landed after the r11 window
    # filled (DEFERRED_TO_NEXT_WINDOW last round — the mandatory head per
    # the overflow valve), then round-12 additions appended as each lands
    # with a green oracle test; every addition evicts refresh entries
    # from the TAIL (newest-vintage, then alphabetically-last) to keep 50.
    "window_range_frame_trailing",
    "fn_selective_agg_family",
    "join_cbo_stats_broadcast",
    "layout_cached_multi_consumer",
    "stream_rocksdb_changelog_resume",
    "ml_isotonic_pav",
    "ml_target_encoding_loo",
    "source_jsonl_gzip",
    "stats_benjamini_hochberg",
    "events_allen_interval_relations",
    "multimodal_real_qoi",
    "stats_brown_forsythe",
    "ml_random_forest_stumps",
    "graph_local_max_matching",
    "fn_parameterized_sql",
    "graph_functional_scc",
    "stats_wilcoxon_signed_rank",
    "stats_cochran_armitage",
    "dedup_prefix_filter_jaccard",
    "source_parquet_agg_pushdown",
    "source_parquet_nested_pruning",
    "stats_mcnemar_paired",
    "stats_kruskal_wallis",
    "stats_jonckheere_terpstra",
    "events_m4_downsample",
    "stats_gini_concentration",
    "ml_cumulative_gains_deciles",
    "graph_ktruss_peel_rounds",
    "sim_mmr_rerank",
    "stats_logrank_test",
    "text_rake_keywords",
    "ml_kfold_cv_stump",
    "join_cbo_reorder_3way",
    "fn_regexp_family",
    "window_ignore_nulls_locf",
    "sort_limit_offset_pagination",
    "events_ohlc_candles",
    "events_max_drawdown",
    # refresh cycle: the remaining slots hold the catalog entries with
    # the oldest driver-green rows — the 10 r3-vintage entries, then the
    # alphabetically-first r4-vintage block. tests/test_conventions.py
    # enforces the staleness invariant (no attested entry outside the
    # window is staler than one inside), so this prose never has to be
    # trusted.
    "stream_static_join_rollup",
    "stream_stream_join_attrib",
    "stream_tumbling_rollup",
    "text_decontamination",
    "text_quality_filter",
    "text_token_stats",
    "udf_grouped_agg",
    "udf_grouped_map",
    "udf_pandas_scalar",
    "udf_python_udtf",
    "agg_approx_distinct",
    "agg_collect_list_orders",
]

# How many entries at the HEAD of FRONT_WINDOW are fresh this round
# (newly added or freshly rotated in) — bench.py runs exactly this many
# unmeasured warm-up passes so first-use machinery cost never lands on
# the rows a verdict diff scrutinizes. Its generated classes stay in the
# codegen cache get_spark sizes, so the measured pass reuses them; the
# other first-use costs it absorbs are the pandas-worker spawn and the
# streaming scheduler. MUST be updated together with FRONT_WINDOW at each
# rotation (r10 ADVICE.md: a hard-coded literal in bench.py silently
# warmed the wrong count after rotation). Round 12: the 2 deferred-head
# entries + fresh round-12 entries (grows as each lands).
WINDOW_WARMUP_COUNT: int = 38

# Entries that did not fit the current 50-slot window and therefore form
# the MANDATORY head of the NEXT round's window (tests/test_conventions.py
# asserts the plan). Empty while the round-12 window has free budget
# (the r11 deferred pair now leads FRONT_WINDOW); additions beyond the
# budget append HERE (never displacing the window head) and stay fully
# oracle-tested per-entry in tests/test_oracle.py meanwhile.
DEFERRED_TO_NEXT_WINDOW: list[str] = []


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and its DuckDB oracle SQL) to the catalog."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle.strip()
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    front = {n: _QUERIES[n] for n in FRONT_WINDOW if n in _QUERIES}
    back = {n: f for n, f in _QUERIES.items() if n not in front}
    return {**front, **back}


def all_oracles() -> dict[str, str]:
    return dict(_ORACLES)
