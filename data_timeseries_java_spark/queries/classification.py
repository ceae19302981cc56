"""Machine-readable scale classification of every declared query
(round-12 VERDICT #4).

THE NAMING INVARIANT: a default-sounding (unsuffixed) query name MUST
route to the scale path — the implementation that survives a 100x
scale-up. Lanes whose cost is super-linear BY DESIGN (exact /
brute-force ground-truth companions kept for recall evaluation and
small-corpus accuracy work) are DECLARED_BASELINES: each carries a
distinguishing suffix where artifact continuity allows, and always a
machine-readable entry here pointing at the scale path a production
user should reach instead. tests/test_plans.py asserts totality —
every name in the live registry is classified, so a new query cannot
ship unadjudicated — and that every baseline's scale-path pointers
resolve to declared queries.

Why this module exists: the default name is the one a user reaches
for; it must be the one that scales. A lane that routes an unsuffixed
name to a quadratic path passes at the oracle SFs and dies at the 100x
decade, so every such lane is adjudicated here by name.

Adjudication under the invariant:

- ``dedup_ngram_jaccard``: exact n-gram-intersection join — the
  intersection-size control for the MinHash estimate. Kept under its
  historical name because renaming would break the r01-r11
  correctness/bench artifact continuity keyed by it, so the
  machine-readable tag here is the declared mechanism (the invariant's
  stated alternative to a suffix); scale path is dedup_minhash_lsh.
"""

from __future__ import annotations

# name -> (why it is super-linear by design, tuple of scale-path names
# a production user should reach instead)
DECLARED_BASELINES: dict[str, tuple[str, tuple[str, ...]]] = {
    "dedup_ngram_jaccard": (
        "exact n-gram intersection join — the intersection-size "
        "control the MinHash estimate is graded against",
        ("dedup_minhash_lsh",)),
}


def is_scale_path(name: str) -> bool:
    """True when ``name`` is claimed safe at 100x — the default for
    every declared query not listed in DECLARED_BASELINES."""
    return name not in DECLARED_BASELINES
