"""Ground-truth anchors for the approximate dedup family (VERDICT r1 §4).

The DuckDB oracles check that the MinHash queries compute what they define,
bit for bit; they cannot say whether the LSH geometry finds the pairs that
matter. These tests anchor the served path to the EXACT n-gram Jaccard result
over the full sf0.01 corpus: precision must be 1.0 by construction (every LSH
candidate is exactly re-verified) and recall must clear the LSH curve's
expectation.

Runs at sf0.01 regardless of the session fixture: sf0.001 has too few
near-dup pairs to measure recall meaningfully.
"""

from __future__ import annotations

from breweries_data_engineering_case_spark.operators.components import (
    keep_one_per_cluster,
)
from breweries_data_engineering_case_spark.operators.fuzzy_dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from breweries_data_engineering_case_spark.sources.readers import table_scan

SF001 = "/root/testdata/sf0.01"


def _exact_pairs(spark, threshold: float = 0.7) -> set[tuple]:
    d = table_scan(spark, SF001, "documents")
    return {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            d, shingle_n=3, threshold=threshold
        ).collect()
    }


def _components(pairs: set[tuple]) -> dict:
    """Union-find over the exact pair set → doc_id -> component root."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_minhash_lsh_recall_vs_exact_jaccard(spark):
    """minhash_lsh_pairs ⊆ exact pairs (precision 1.0), recall >= 0.8.

    48 hashes / 12 bands × 4 rows: P(candidate | j=0.7) = 1-(1-0.7^4)^12
    ≈ 0.96, so near-total recall is the expectation, not luck."""
    exact = _exact_pairs(spark)
    assert exact, "sf0.01 corpus must contain 3-shingle near-dups at j>=0.7"

    d = table_scan(spark, SF001, "documents")
    approx = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(d, threshold=0.7).collect()
    }
    assert approx <= exact, f"false positives: {approx - exact}"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"MinHash-LSH recall {recall:.2f} over {len(exact)} pairs"


def test_keep_list_matches_exact_components(spark):
    """doc_dedup_keep_list decisions must be consistent with the connected
    components of the EXACT pair graph: every (dropped, kept) edge stays
    inside one exact component, and kept docs are never dropped."""
    exact = _exact_pairs(spark)
    comp = _components(exact)

    d = table_scan(spark, SF001, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.7)
    decisions = keep_one_per_cluster(d.select("doc_id"), lambda: pairs).collect()

    dropped = {r.doc_id: r.component for r in decisions if not r.is_kept}
    kept = {r.doc_id for r in decisions if r.is_kept}
    assert not (set(dropped) & kept)

    for doc, rep in dropped.items():
        # the surviving representative must be a true near-dup of the doc
        assert comp.get(doc) is not None, f"{doc} dropped but not in any exact pair"
        assert comp.get(doc) == comp.get(rep), (
            f"dropped {doc} kept-by {rep}, but exact components differ: "
            f"{comp.get(doc)} vs {comp.get(rep)}"
        )
    # with ~full recall, the number of dropped docs matches the exact
    # component structure: |non-singleton members| - |components|
    roots = set(comp.values())
    expected_drops = len(comp) - len(roots)
    assert len(dropped) >= int(0.8 * expected_drops), (
        f"dropped {len(dropped)} vs exact expectation {expected_drops}"
    )
