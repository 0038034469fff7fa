"""Shared budget gate for bounded driver-local fast paths.

Five tiers sit next to a distributed plan. Each is decided once, at
one site, against one module constant read at call time:

- trade-graph PageRank: queries/relational.graph_pagerank and
  graph_pagerank_directed, ``PR_LOCAL_MAX_EDGES``;
- CC union-find: operators/dedup._connected_components_star,
  ``CC_LOCAL_MAX_EDGES``;
- ngram dense gemm: operators/dedup._ngram_pairs_dense,
  ``NGRAM_DENSE_MAX_MEMBERSHIPS``;
- triangle gemm: queries/behavioral.graph_triangles,
  ``TRI_LOCAL_MAX_NODES`` (and ``TRI_LOCAL_MAX_EDGES``);
- RFM ntile windows: queries/behavioral.orders_rfm,
  ``RFM_NTILE_LOCAL_MAX``.

Each tier is bounded (metadata probe or count-first probe), bit-
identical to its distributed twin, and falls through past its ceiling
— the same cost-based tiering any engine's planner does for a build
side that fits memory. A tier is forced off only through the switch
below or by monkeypatching its constant, never by a per-call keyword.

This module is the ONE place the gate decision lives, so every tier
provably keeps its at-scale twin honest:

- :func:`within_budget` / :func:`local_tier_enabled` are the only
  gate predicates tiers may use, always passed an UPPER_CASE module
  constant and imported inside the calling function
  (tests/test_budget_tiers.py checks both);
- the ``SMRGH_FORCE_DISTRIBUTED`` environment variable switches every
  local tier off at once, forcing the distributed twins end-to-end —
  tests/test_budget_tiers.py runs the equality suites under the
  switch every round, so a tier can never drift from the plan that
  has to work at 100 TB.

(similarity._collect_matrix intentionally does NOT route through
here: it is a *contract* on small-by-definition query/centroid sets —
it raises above its ceiling instead of falling through, because a
driver-uncollectable query set has no distributed twin to fall back
to.)
"""

from __future__ import annotations

import os

FORCE_DISTRIBUTED_ENV = "SMRGH_FORCE_DISTRIBUTED"


def force_distributed() -> bool:
    """True when the env switch disables every driver-local tier."""
    return os.environ.get(FORCE_DISTRIBUTED_ENV, "") not in ("", "0")


def local_tier_enabled(ceiling: int) -> bool:
    """May a driver-local tier even probe? (ceiling > 0 and the
    forced-distributed switch is off). Count-first probe sites call
    this BEFORE launching their probe job, so the forced run doesn't
    pay probes for a tier it will never take."""
    return ceiling > 0 and not force_distributed()


def within_budget(bound: int | None, ceiling: int) -> bool:
    """True iff a driver-local tier may run on a KNOWN bound: the
    (metadata- or count-derived) bound fits the ceiling and the
    forced-distributed switch is off."""
    return (
        not force_distributed()
        and bound is not None
        and ceiling > 0
        and 0 <= bound <= ceiling
    )

