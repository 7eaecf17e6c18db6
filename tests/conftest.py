from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_elasticsearch_injector_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Tier split (pytest.ini markers): whole modules that are integration
# tiers — the Spark/DuckDB oracle replica, physical-plan CI, streaming
# passes, and the live-socket HTTP e2e layer — are `slow`;
# everything else is `fast` unless a test carries its own slow marker
# (heavy brute-force/kernel comparisons inside unit modules). The
# inner loop is `pytest -m fast` (<60 s); CI and round-end runs stay
# `pytest tests/` (unchanged, both tiers).
SLOW_MODULES = frozenset({
    "test_queries_oracle",
    "test_physical_plans",
    "test_part_h_ops",
    "test_streaming",
    "test_es_http_e2e",
    "test_registry_http",
    "test_avro_source",
    # r11: schemaless-ingest parity suite runs full decode→route plans
    # per test (integration-flavored; the streaming e2e inside is
    # already slow by prefix)
    "test_schemaless_json",
    "test_bitwise_parity",
})

# Individually heavy tests inside otherwise-fast unit modules (>2 s
# each in the r5 duration profile: brute-force completeness sweeps,
# IVF end-to-end). Matched by test-name prefix so
# parametrized variants are covered.
SLOW_TEST_PREFIXES = (
    "test_simhash",
    "test_minhash_bitmask_path_matches_array_path",
    "test_connected_components",
    "test_ivf_",
    "test_lsh_multi_table_recall",
    "test_containment_kernel_equals_set_arithmetic",
    "test_hamming_segment_pairs_equal_brute_force",
    # per-declared-query engine lints: oracle-tier work in a unit module
    "test_no_hasher_killer_output_types",
    "test_result_types_match_across_engines",
    "test_decontaminate_",
    "test_scd2_no_broadcast_same_result",
    "test_mixture_sample_rate_edges_and_determinism",
    # file-IO round-trips and sketch certifications: integration work
    "test_include_key_avro",
    "test_metrics_listener",
    # r9 additions: Spark-roundtrip property sweeps and sf-dir plan
    # gates in otherwise-fast unit modules
    "test_ntile_by_id_matches",
    "test_vocab_growth_no_global",
    "test_dedup_recall_sample",
    "test_dedup_recall_sampled",
    "test_winnow_pairs_reliable",
    "test_group_median_grid_matches",
    "test_drift_ks_bucket_mode",
    "test_stream_",
    "test_schemaless_roundtrip_property",
    "test_approx_percentile_certified",
    "test_approx_distinct_certified",
    "test_lsh_single_table",
    "test_containment_kernel",
    "test_pack_sequences_positions",
    "test_bitmask64_overflow_raises",
    "test_minhash_plan_build_launches_no_jobs",
    "test_audio_features_signed_samples_property",
    "test_repetition_signals_hand_computed",
    "test_mixture_sample_monotone_in_rate",
    "test_corpus_to_training_export_end_to_end",
    "test_profile_metrics_hand_computed",
    "test_profile_handles_duplicate_and_dotted_columns",
    "test_scd2_closes_and_appends",
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rpartition(".")[2]
        name = item.name.split("[")[0]
        if mod in SLOW_MODULES or name.startswith(SLOW_TEST_PREFIXES):
            item.add_marker(pytest.mark.slow)
        else:
            item.add_marker(pytest.mark.fast)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def fake_es():
    """A live in-process fake ES node (tests/fake_es.py): (es, url)."""
    from .fake_es import FakeES

    es = FakeES()
    url = es.start()
    try:
        yield es, url
    finally:
        es.stop()
