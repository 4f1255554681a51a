"""operators/classifier.py: exact AUC."""


def test_auc_exact_matches_python_and_edges(spark):
    """auc_exact (operators/classifier.py): randomized parity with a
    pure-python mid-rank AUC incl. heavy ties, plus the analytic
    edges (perfect = 1, inverted = 0, uninformative single score =
    0.5, degenerate one-class = NULL)."""
    import random

    from prohap_spark.operators.classifier import auc_exact

    def py_auc(pairs):
        pos = [s for s, y in pairs if y]
        neg = [s for s, y in pairs if not y]
        if not pos or not neg:
            return None
        wins = sum(
            1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg
        )
        return wins / (len(pos) * len(neg))

    rng = random.Random(42)
    cases = [
        [(s, s >= 3) for s in range(6)],                      # perfect
        [(s, s < 3) for s in range(6)],                       # inverted
        [(7, i % 2 == 0) for i in range(10)],                 # one score
        [(1, True), (2, True)],                               # degenerate
    ]
    for _ in range(6):
        cases.append(
            [
                (rng.randint(0, 8), rng.random() < 0.4)
                for _ in range(rng.randint(2, 60))
            ]
        )
    for pairs in cases:
        df = spark.createDataFrame(
            [(s, bool(y)) for s, y in pairs], "score int, label boolean"
        )
        r = auc_exact(df, "score", "label").collect()[0]
        want = py_auc(pairs)
        if want is None:
            assert r["auc"] is None
        else:
            assert abs(r["auc"] - want) < 1e-12, (pairs, r)
            # the integer numerator is the exact doubled rank-sum
            assert r["auc_num2"] == round(want * 2 * r["n_pos"] * r["n_neg"])
