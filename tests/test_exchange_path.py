"""The engine's oracle tests again on the distributed scoring path.

On the small test indexes every query's scan fits one scoring task's
quota, so by default these tests exercise the driver path only. Here the
``exchange_path`` fixture makes the planner pick the path every larger
scan takes (pruned scan -> chunk exchange -> mapInPandas scorer) and the
same tests run through it: the full-match methods (facets, range/pivot/
stats facets, export, collapse, sort_by, boosted), top-k BM25 with filters
and paging, MUST/MUST_NOT, phrase, per-field norms, the prefix, wildcard,
range and regexp expansions, and the pruned-equals-exhaustive and θ-seed
checks of term, MUST, MUST_NOT, fielded and phrase queries, all on the
two-segment t_tiny index. Each test must reach the scorer at least once,
except the absent-term cases of test_bm25_rank_identical and
test_bmw_equals_exhaustive, which are answered empty before any scan.
"""

import pytest

from test_boolean import (  # noqa: F401
    test_must_not_masks_without_rescoring,
    test_must_not_pruned_equals_exhaustive,
    test_prefix_expands_to_scored_or,
)
from test_build_search import (  # noqa: F401
    test_bm25_rank_identical,
    test_bmw_equals_exhaustive,
    test_filter_broadcast_keeps_truncation,
    test_filter_role,
    test_k_exceeds_matches,
    test_search_after_deep_paging,
    test_theta_seeding_lossless,
)
from test_facets import (  # noqa: F401
    test_boosted_search_function_score,
    test_collapse_best_hit_per_group,
    test_export_matches_full_set_with_columns,
    test_export_respects_modifiers,
    test_facet_pivot_counts,
    test_facet_range_counts_full_match_set,
    test_facet_stats_matches_pandas,
    test_facets_and_mode,
    test_facets_count_full_match_set,
    test_facets_respect_doc_filter_and_must_not,
    test_sort_by_field_over_full_match_set,
    test_unsorted_search_equals_sorted_set,
)
from test_fields import (  # noqa: F401
    fielded,
    test_pruning_lossless_and_parallelism_invariant,
    test_search_fields_matches_oracle,
)
from test_phrase import (  # noqa: F401
    test_phrase_bmw_lossless_and_parallelism_invariant,
    test_phrase_matches_oracle,
    test_phrase_theta_seed_lossless,
    test_phrase_with_doc_filter,
)
from test_query_surface import (  # noqa: F401
    test_must_mixed_vs_oracle,
    test_must_pruned_and_seeded_equal_exhaustive,
    test_must_with_must_not,
    test_phrase_must_not_masks_without_rescoring,
    test_phrase_must_not_pruned_equals_exhaustive,
)
from test_wildcard_range import (  # noqa: F401
    test_range_query_scores_as_or,
    test_regexp_query_scores_as_or,
    test_wildcard_query_scores_as_or,
)


@pytest.fixture(autouse=True)
def _distributed_only(exchange_path, request):
    yield
    if "zzzunseen" not in request.node.name:
        assert exchange_path, "the test never reached the scorer"
