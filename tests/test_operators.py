"""Operator equivalence/property tests: binned interval join ==
broadcast-BNLJ reference plan; as-of join == pandas merge_asof;
minhash determinism; islands invariants."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(42)


def test_interval_join_equals_broadcast(spark, rng):
    from prohap_spark.operators.interval_join import interval_join

    pts = pd.DataFrame(
        {"pid": range(300), "chrom": [str(i % 3) for i in range(300)], "pos": rng.integers(0, 10_000, 300)}
    )
    ivs = pd.DataFrame(
        {
            "iid": range(80),
            "chrom": [str(i % 3) for i in range(80)],
            "start": rng.integers(0, 9_000, 80),
        }
    )
    ivs["end"] = ivs["start"] + rng.integers(1, 2_000, 80)
    p, i = spark.createDataFrame(pts), spark.createDataFrame(ivs)
    kw = dict(point_col="pos", start_col="start", end_col="end", partition_keys=["chrom"])
    binned = interval_join(p, i, bin_size=512, strategy="binned", **kw)
    bcast = interval_join(p, i, strategy="broadcast", **kw)
    key = lambda df: sorted((r["pid"], r["iid"]) for r in df.select("pid", "iid").collect())  # noqa: E731
    got, want = key(binned), key(bcast)
    assert got == want and len(got) > 0


def test_interval_join_bin_boundaries_and_closed_modes(spark):
    """Deterministic adversarial battery for the binned interval join:
    points sitting EXACTLY on bin multiples, interval endpoints on bin
    multiples, zero-length intervals (start == end), single-point bins,
    and all four ``closed`` modes — each checked against a python
    brute force. Random draws (the test above) almost never land on
    these boundaries, and the bin-assignment arithmetic
    (floor-division on both sides) is exactly where an off-by-one
    would live."""
    from prohap_spark.operators.interval_join import interval_join

    bin_size = 100
    # points: bin edges (0, 100, 200), one-off-each-side, interior
    pos = [0, 1, 99, 100, 101, 199, 200, 250, 300, 399, 400]
    pts = pd.DataFrame({"pid": range(len(pos)), "pos": pos})
    # intervals: zero-length on an edge, zero-length interior,
    # edge-to-edge, sub-bin, straddling, containing-everything
    spans = [
        (100, 100),  # zero-length ON a bin edge
        (250, 250),  # zero-length interior
        (0, 100),    # exactly one bin + shared edge
        (100, 200),
        (101, 199),  # strictly inside one bin
        (99, 101),   # straddles an edge by one each side
        (200, 400),
        (0, 400),    # spans all bins
    ]
    ivs = pd.DataFrame(
        {
            "iid": range(len(spans)),
            "start": [s for s, _ in spans],
            "end": [e for _, e in spans],
        }
    )
    p, i = spark.createDataFrame(pts), spark.createDataFrame(ivs)
    preds = {
        "both": lambda s, e, x: s <= x <= e,
        "left": lambda s, e, x: s <= x < e,
        "right": lambda s, e, x: s < x <= e,
        "neither": lambda s, e, x: s < x < e,
    }
    for closed, pred in preds.items():
        got = sorted(
            (r["pid"], r["iid"])
            for r in interval_join(
                p, i, point_col="pos", start_col="start", end_col="end",
                bin_size=bin_size, strategy="binned", closed=closed,
            ).select("pid", "iid").collect()
        )
        want = sorted(
            (pid, iid)
            for pid, x in zip(pts["pid"], pts["pos"])
            for iid, (s, e) in zip(ivs["iid"], spans)
            if pred(s, e, x)
        )
        assert got == want, f"closed={closed}"
        assert want  # every mode must have matches (battery not vacuous)


def test_interval_overlap_join_no_dups(spark, rng):
    from prohap_spark.operators.interval_join import interval_overlap_join

    a = pd.DataFrame({"aid": range(60), "a_start": rng.integers(0, 5_000, 60)})
    a["a_end"] = a["a_start"] + rng.integers(1, 3_000, 60)
    b = pd.DataFrame({"bid": range(60), "b_start": rng.integers(0, 5_000, 60)})
    b["b_end"] = b["b_start"] + rng.integers(1, 3_000, 60)
    out = interval_overlap_join(
        spark.createDataFrame(a), spark.createDataFrame(b),
        "a_start", "a_end", "b_start", "b_end", bin_size=256,
    )
    pairs = [(r["aid"], r["bid"]) for r in out.select("aid", "bid").collect()]
    assert len(pairs) == len(set(pairs)) > 0  # exactly-once per pair
    # oracle: pandas nested loop
    want = {
        (ra.aid, rb.bid)
        for ra in a.itertuples()
        for rb in b.itertuples()
        if ra.a_start <= rb.b_end and rb.b_start <= ra.a_end
    }
    assert set(pairs) == want


def test_asof_join_equals_merge_asof(spark, rng):
    from prohap_spark.operators.asof import asof_join

    left = pd.DataFrame(
        {
            "k": rng.integers(0, 5, 200),
            "ts": pd.to_datetime(rng.integers(0, 10**6, 200), unit="s"),
            "lval": range(200),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.integers(0, 5, 150),
            "ts": pd.to_datetime(rng.integers(0, 10**6, 150), unit="s"),
            "rval": range(150),
        }
    ).drop_duplicates(["k", "ts"])
    out = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on=["k"],
        ts_col="ts",
        payload_cols=["rval"],
    )
    got = {
        (r["k"], r["ts"], r["lval"]): r["asof_rval"] for r in out.collect()
    }
    want_df = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("ts"), on="ts", by="k", direction="backward"
    )
    for row in want_df.itertuples():
        w = None if pd.isna(row.rval) else int(row.rval)
        assert got[(row.k, row.ts.to_pydatetime(), row.lval)] == w


def test_asof_join_exact_ties_both_directions(spark):
    """Deterministic tie battery for the as-of join: left timestamps
    exactly EQUAL to right timestamps (the docstring's 'same-ts right
    row IS visible' promise), probes strictly between/before/after all
    right rows, and a key with no right rows at all — in BOTH
    directions, against pandas merge_asof (allow_exact_matches=True,
    the matching semantics)."""
    from prohap_spark.operators.asof import asof_join

    right = pd.DataFrame(
        {
            "k": [1, 1, 1, 2],
            "ts": pd.to_datetime([10, 20, 30, 10], unit="s"),
            "rval": [100, 200, 300, 400],
        }
    )
    # per key: before-all, exact-first, interior, exact-mid,
    # exact-last, after-all; key 3 has NO right rows
    left = pd.DataFrame(
        {
            "k": [1, 1, 1, 1, 1, 1, 2, 2, 3],
            "ts": pd.to_datetime([5, 10, 15, 20, 30, 35, 10, 11, 10], unit="s"),
            "lval": range(9),
        }
    )
    for direction in ("backward", "forward"):
        out = asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            on=["k"],
            ts_col="ts",
            payload_cols=["rval"],
            direction=direction,
        )
        got = {(r["k"], r["ts"], r["lval"]): r["asof_rval"] for r in out.collect()}
        want_df = pd.merge_asof(
            left.sort_values(["ts", "k", "lval"]),
            right.sort_values(["ts", "k"]),
            on="ts",
            by="k",
            direction=direction,
        )
        assert len(got) == len(left)
        for row in want_df.itertuples():
            w = None if pd.isna(row.rval) else int(row.rval)
            assert got[(row.k, row.ts.to_pydatetime(), row.lval)] == w, (
                f"direction={direction} k={row.k} ts={row.ts}"
            )


def test_minhash_deterministic_across_runs(spark):
    from prohap_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no overlap at all"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    r1 = sorted(tuple(r) for r in minhash_dedup_pairs(docs, "doc_id", "text", 0.5).collect())
    r2 = sorted(tuple(r) for r in minhash_dedup_pairs(docs, "doc_id", "text", 0.5).collect())
    assert r1 == r2
    pairs = {(a, b) for a, b, _ in r1}
    assert (1, 4) in pairs  # exact dup always found
    assert all((3 not in p) for p in pairs)


def test_islands_conflict_detection(spark):
    from prohap_spark.operators.islands import cluster_overlapping_intervals

    df = spark.createDataFrame(
        [
            ("g1", 100, 110),
            ("g1", 105, 108),  # overlaps first → same island
            ("g1", 200, 210),  # separate island
            ("g2", 100, 100),
        ],
        ["g", "s", "e"],
    )
    out = cluster_overlapping_intervals(df, ["g"], "s", "e")
    got = {(r["g"], r["s"]): r["island_id"] for r in out.collect()}
    assert got[("g1", 100)] == got[("g1", 105)] == 1
    assert got[("g1", 200)] == 2
    assert got[("g2", 100)] == 1


def test_simhash_near_duplicates_close(spark):
    from prohap_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight"),
        ],
        ["doc_id", "text"],
    )
    sig = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sig[1], sig[2]) < ham(sig[1], sig[3])
    assert ham(sig[1], sig[2]) < ham(sig[2], sig[3])


def test_simhash_near_pairs_match_bruteforce_ball(spark):
    """Pigeonhole banding has 100% recall inside the Hamming ball, so
    the operator's output must EQUAL the brute-force all-pairs ball —
    and the corpus is chosen so some pairs sit at distance 1-3, which
    exact-signature grouping (dedup_simhash) cannot see."""
    from prohap_spark.operators.dedup import simhash, simhash_near_pairs

    # doc 2 = doc 1 with ONE of 40 tokens replaced — a perturbation
    # verified to land at Hamming distance 3 from doc 1 (vote margins
    # absorb most bit flips at this token count)
    base_words = [f"word{i:02d}" for i in range(40)]
    pert_words = list(base_words)
    pert_words[-1] = "alt06"
    rows = [
        (1, " ".join(base_words)),
        (2, " ".join(pert_words)),
        (3, " ".join(base_words)),
        (4, "one two three four five six seven eight nine ten"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    expect = {
        (a, b): bin(sig[a] ^ sig[b]).count("1")
        for a in sig
        for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert got == expect
    assert (1, 3) in got and got[(1, 3)] == 0  # exact dup
    # at least one strictly-near pair that exact-signature dedup misses
    assert any(1 <= h <= 3 for h in got.values()), got


def test_lsh_bucket_cap_skips_degenerate_bucket(spark):
    """A boilerplate corpus (many identical docs) lands in one LSH
    bucket; the cap skips its k² pair explosion and the bucket-stats
    view reports exactly what was skipped."""
    from prohap_spark.operators.dedup import lsh_bucket_stats, minhash_dedup_pairs

    boiler = [(i, "the same boilerplate footer text repeated verbatim") for i in range(40)]
    distinct = [
        (100, "a unique document about rivers and mountains flowing east"),
        (101, "a unique document about rivers and mountains flowing west"),
    ]
    docs = spark.createDataFrame(boiler + distinct, ["doc_id", "text"])

    uncapped = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5, ngram=1)
    capped = minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.5, ngram=1, max_bucket_size=8
    )
    got_uncapped = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    got_capped = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # uncapped: 40*39/2 boilerplate pairs + the near-dup pair
    assert (100, 101) in got_uncapped and len(got_uncapped) == 40 * 39 // 2 + 1
    # capped: the degenerate bucket is gone, the real near-dup survives
    assert got_capped == {(100, 101)}

    stats = lsh_bucket_stats(
        docs, "doc_id", "text", ngram=1, max_bucket_size=8
    ).collect()
    capped_rows = [r for r in stats if r["capped"]]
    assert capped_rows and all(r["bucket_size"] == 40 for r in capped_rows)
    assert all(r["n_pairs"] == 40 * 39 // 2 for r in capped_rows)


def test_connected_components_transitive_clusters(spark):
    """Chained near-dup pairs must close transitively: a-b, b-c, c-d is
    ONE cluster labeled by its min id, independent of edge direction
    and partitioning."""
    from prohap_spark.operators.graph import (
        connected_components,
        dedup_cluster_representatives,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (20, 20)],
        ["id_a", "id_b"],
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges, "id_a", "id_b").collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}  # self-loop 20 dropped
    reps = {
        r["doc_id"]: (r["cluster_rep"], r["cluster_size"])
        for r in dedup_cluster_representatives(edges).collect()
    }
    assert reps[4] == (1, 4) and reps[11] == (10, 2)


def test_connected_components_long_chain_converges(spark):
    """A path graph of length 12 needs multiple propagation rounds —
    pins the convergence loop, not just one iteration."""
    from prohap_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["src", "dst"]
    )
    comp = connected_components(edges).collect()
    assert {r["component"] for r in comp} == {0}
    assert len(comp) == 13


def test_global_row_number_equals_single_partition_window(spark, rng):
    """The scalable range-partitioned numbering must equal the naive
    global-window row_number under the same total order, including
    with skewed duplicate-free keys across many partitions."""
    from pyspark.sql import Window

    from prohap_spark.operators.order import global_row_number

    vals = rng.permutation(5000).tolist()
    df = spark.createDataFrame([(int(v), f"p{v % 7}") for v in vals], ["k", "grp"])
    got = {
        r["k"]: r["rn"]
        for r in global_row_number(df, ["k"]).collect()
    }
    w = Window.orderBy("k")
    want = {
        r["k"]: r["rn"]
        for r in df.select("k", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want


def test_grouped_row_number_equals_grouped_window(spark, rng):
    from pyspark.sql import Window

    from prohap_spark.operators.order import grouped_row_number

    vals = rng.permutation(3000).tolist()
    df = spark.createDataFrame(
        [(f"g{v % 3}", int(v)) for v in vals], ["grp", "k"]
    )
    got = {
        (r["grp"], r["k"]): r["rn"]
        for r in grouped_row_number(df, ["grp"], ["k"]).collect()
    }
    w = Window.partitionBy("grp").orderBy("k")
    want = {
        (r["grp"], r["k"]): r["rn"]
        for r in df.select("grp", "k", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want


def test_connected_components_random_vs_union_find(spark, rng):
    """Property check on a seeded random graph: component labels must
    equal a reference union-find's min-id labels."""
    from prohap_spark.operators.graph import connected_components

    n, m = 120, 90
    edges = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, n, m), rng.integers(0, n, m))
        if a != b
    ]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    want = {v: find(v) for v in touched}

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


def test_approx_sketches_within_error_bounds(spark):
    """The engine-native sketches' value signal, pinned TIGHTER than
    the registered query's property gate: HLL++ distinct counts within
    3x the default 5% rsd of exact, and each approx percentile between
    the exact quantiles 2x the documented rank-error either side of
    the target (approx_percentile guarantee: rank error <= n/accuracy,
    default accuracy 10000 — vs the query's robust 0.01 band). Also
    pins the r9 gated projection itself: every *_sketch_ok boolean
    TRUE, exact_orders exact, hll_orders within the m=64 sketch's
    documented band."""
    from prohap_spark.queries import queries
    from prohap_spark.queries.registry import table

    q = queries()
    sf = "/root/testdata/sf0.01"
    eps = 2.0 / 10_000  # 2x the 1e-4 quantile-rank guarantee as margin
    li = table(spark, sf, "lineitem")
    native = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey").alias("approx_orders"),
            F.expr("approx_percentile(l_extendedprice, array(0.5, 0.95))").alias(
                "apq"
            ),
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.expr(
                "percentile(l_extendedprice, array("
                f"{0.5 - eps}, {0.5 + eps}, {0.95 - eps}, {0.95 + eps}))"
            ).alias("pq"),
        )
        .collect()
    }
    assert native
    for flag, e in native.items():
        assert abs(e["approx_orders"] - e["exact_orders"]) <= 0.15 * e["exact_orders"]
        lo50, hi50, lo95, hi95 = e["pq"]
        assert lo50 <= e["apq"][0] <= hi50, flag
        assert lo95 <= e["apq"][1] <= hi95, flag

    rows = {r["l_returnflag"]: r for r in q["agg_approx_sketches"](spark, sf).collect()}
    assert rows.keys() == native.keys()
    for flag, a in rows.items():
        assert a["distinct_sketch_ok"] and a["p50_sketch_ok"] and a["p95_sketch_ok"], flag
        assert a["exact_orders"] == native[flag]["exact_orders"], flag
        # m=64 deterministic HLL: ~13% rsd; allow 3x
        assert abs(a["hll_orders"] - a["exact_orders"]) <= 0.4 * a["exact_orders"], flag


def test_ngram_decontaminate_counts_and_flags(spark):
    from prohap_spark.operators.decontam import ngram_decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [
            # shares 'the quick brown' and 'quick brown fox' → overlap 2
            (1, "the quick brown fox sleeps"),
            # no shared trigram
            (2, "a slow red dog walks"),
            # two words → zero trigrams, never contaminated
            (3, "quick brown"),
            # verbatim benchmark text → all 3 trigrams overlap
            (4, "the quick brown fox jumps"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in ngram_decontaminate(docs, bench, ngram=3).collect()
    }
    assert out[1]["overlap_ngrams"] == 2 and out[1]["contaminated"]
    assert out[2]["overlap_ngrams"] == 0 and not out[2]["contaminated"]
    assert out[3]["n_grams"] == 0 and not out[3]["contaminated"]
    assert out[4]["overlap_ngrams"] == 3 and out[4]["n_grams"] == 3


def test_ngram_decontaminate_plan_broadcasts_benchmark(spark):
    """The corpus-side probe must be a broadcast hash join (the
    benchmark is the MB-scale side) — a sort-merge join here would
    shuffle the exploded gram table at corpus scale."""
    from prohap_spark.operators.decontam import ngram_decontaminate
    from prohap_spark.plans import plan_report

    docs = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    bench = spark.createDataFrame([(2, "c d e f")], ["doc_id", "text"])
    rep = plan_report(ngram_decontaminate(docs, bench))
    assert rep["broadcast_joins"] >= 1
    assert rep["sortmerge_joins"] == 0
    assert rep["bnl_joins"] == 0


def test_connected_components_200_chain_log_rounds(spark):
    """A 200-node path graph has diameter 199: plain one-hop min-label
    propagation needs ~200 rounds and used to raise at max_iter=25.
    The pointer-halving shortcut converges in O(log n) rounds."""
    from prohap_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], ["src", "dst"]
    )
    out = connected_components(edges, max_iter=12)
    rows = out.collect()
    assert len(rows) == 200
    assert all(r["component"] == 0 for r in rows)


def test_bpe_encode_word_reference_cases():
    """Hand-derived BPE traces against the fixed merge vocabulary —
    rank order matters: 'the' must merge t+h first (rank 0), then
    th+e (rank 1), NOT e.g. a lower-priority pair first."""
    from prohap_spark.functions.bpe import bpe_encode_word

    assert bpe_encode_word("the") == ["the"]
    assert bpe_encode_word("thethe") == ["the", "the"]
    # 'and': a+n (rank 3) fires before e.g. n+d (absent); then an+d
    assert bpe_encode_word("and") == ["and"]
    # 'in' then standalone chars that never merge
    assert bpe_encode_word("inx") == ["in", "x"]
    assert bpe_encode_word("zzzz") == ["z", "z", "z", "z"]
    assert bpe_encode_word("a") == ["a"]
    assert bpe_encode_word("") == []
    # 'string': s+t (9), i+n (2) -> in, in+g (18) -> ing; r stays
    assert bpe_encode_word("string") == ["st", "r", "ing"]


def test_segment_dedup_literal_fixture(spark):
    """Hand-derived expectation on a 3-doc fixture: the shared 4-word
    segment is removed from both carriers, unique segments survive in
    order, and a fully-duplicated doc scrubs to the empty string."""
    from prohap_spark.operators.dedup import segment_dedup

    shared = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} one two three four tail"),
            (2, f"zero zero zero zero {shared}"),
            (3, shared),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in segment_dedup(docs, "doc_id", "text", seg_words=4).collect()
    }
    # doc 1: segs = [shared, 'one two three four', 'tail']
    assert out[1]["n_segs"] == 3 and out[1]["n_removed"] == 1
    assert out[1]["scrubbed_text"] == "one two three four tail"
    # doc 2: 'zero zero zero zero' is unique to doc 2, shared removed
    assert out[2]["n_segs"] == 2 and out[2]["n_removed"] == 1
    assert out[2]["scrubbed_text"] == "zero zero zero zero"
    # doc 3: everything duplicated -> empty scrub
    assert out[3]["n_segs"] == 1 and out[3]["n_removed"] == 1
    assert out[3]["scrubbed_text"] == ""


def test_segment_dedup_passthrough_columns(spark):
    """r15: `passthrough` carries extra input columns through the
    reassembly unchanged and changes NOTHING else — the dedup columns
    are byte-identical to the no-passthrough call on the same frame."""
    from prohap_spark.operators.dedup import segment_dedup

    shared = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            (1, "web", f"{shared} one two three four tail"),
            (2, "book", f"zero zero zero zero {shared}"),
            (3, "web", shared),
        ],
        ["doc_id", "source", "text"],
    )
    base = {
        r["doc_id"]: r
        for r in segment_dedup(docs, "doc_id", "text", seg_words=4).collect()
    }
    out = {
        r["doc_id"]: r
        for r in segment_dedup(
            docs, "doc_id", "text", seg_words=4, passthrough=("source",)
        ).collect()
    }
    assert {r["doc_id"]: r["source"] for r in docs.collect()} == {
        k: v["source"] for k, v in out.items()
    }
    for k in base:
        for c in ("n_segs", "n_removed", "scrubbed_text"):
            assert base[k][c] == out[k][c]


def test_pack_context_windows_invariants(spark, rng):
    """Packing manifest invariants on random docs: per-doc token
    conservation, contiguous within-shard sequence coverage (every
    sequence except each shard's last holds exactly seq_len tokens),
    and boundary-crossing docs span consecutive sequences."""
    from prohap_spark.operators.packing import pack_context_windows

    words = lambda n: " ".join(f"w{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [(i, words(int(rng.integers(1, 40)))) for i in range(200)],
        ["doc_id", "text"],
    )
    rows = pack_context_windows(
        docs, "doc_id", "text", seq_len=32, n_shards=4
    ).collect()
    # token conservation per doc
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rs in per_doc.items():
        assert sum(x["tokens_in_seq"] for x in rs) == rs[0]["n_tokens"]
        seqs = sorted(x["seq_id"] for x in rs)
        assert seqs == list(range(seqs[0], seqs[-1] + 1))
        assert all(1 <= x["tokens_in_seq"] <= 32 for x in rs)
        assert all(0 <= x["tok_start"] < 32 for x in rs)
    # every non-final sequence in a shard is exactly full
    per_seq = {}
    for r in rows:
        k = (r["shard"], r["seq_id"])
        per_seq[k] = per_seq.get(k, 0) + r["tokens_in_seq"]
    last_seq = {}
    for shard, seq in per_seq:
        last_seq[shard] = max(last_seq.get(shard, -1), seq)
    for (shard, seq), tot in per_seq.items():
        if seq < last_seq[shard]:
            assert tot == 32, (shard, seq, tot)
        else:
            assert 1 <= tot <= 32


def test_winnowing_guarantee_and_short_docs(spark):
    """The winnowing property: any shared run of >= window+ngram-1
    (=6) words yields at least one shared fingerprint; documents
    shorter than the first full window produce no fingerprints (and
    no errors); unrelated docs share nothing."""
    from prohap_spark.operators.dedup import winnowing_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8-word run
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four five six"),
            (2, f"seven eight nine ten {shared} eleven"),
            (3, "p q r s t u v w x y z aa bb cc dd ee"),
            (4, "a b"),          # shorter than one n-gram
            (5, "a b c d e"),    # 3 grams < window 4 -> no fingerprints
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in winnowing_pairs(
            docs, "doc_id", "text", ngram=3, window=4, min_shared=1
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(3 not in p and 4 not in p and 5 not in p for p in pairs)


def test_events_funnel_ordered_semantics(spark):
    """The funnel requires each stage strictly AFTER the previous:
    a user whose only click precedes their first view must NOT count
    as reached_click (a naive per-type min would say otherwise), and
    a purchase between view and click must not leak into stage 3."""
    import datetime as dt

    from prohap_spark.queries.registry import REGISTRY

    base = dt.datetime(2025, 1, 1)
    rows = []

    def ev(i, user, typ, minute):
        rows.append((i, base + dt.timedelta(minutes=minute), user, typ, 1.0, "{}"))

    # u1: click(1) BEFORE view(5) -> no funnel click; later click(9) counts
    ev(1, "u1", "click", 1); ev(2, "u1", "view", 5); ev(3, "u1", "click", 9)
    ev(4, "u1", "purchase", 20)
    # u2: view(1), purchase(2), click(3) -> purchase BEFORE click ignored
    ev(5, "u2", "view", 1); ev(6, "u2", "purchase", 2); ev(7, "u2", "click", 3)
    # u3: view only
    ev(8, "u3", "view", 4)
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id string, event_type string, "
        "value double, props string"
    )
    import tempfile, os
    d = tempfile.mkdtemp(prefix=f"funnel_{os.getpid()}_")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"]:
        src = f"/root/testdata/sf0.001/{t}.parquet"
        spark.read.parquet(src).limit(1).write.mode("overwrite").parquet(f"{d}/{t}.parquet")
    out = {r["user_id"]: r for r in REGISTRY["events_funnel"][0](spark, d).collect()}
    assert out["u1"]["reached_click"] and out["u1"]["reached_purchase"]
    assert out["u1"]["sec_view_to_click"] == 240  # 5min -> 9min
    assert out["u2"]["reached_click"] and not out["u2"]["reached_purchase"]
    assert not out["u3"]["reached_click"] and not out["u3"]["reached_purchase"]
    import shutil
    shutil.rmtree(d, ignore_errors=True)


def test_unigram_logprob_tail_path_value_identical(spark):
    """The bounded-broadcast guard: with head_k=2 most tokens must
    score through the shuffle-join tail; the result is row-for-row
    identical to an effectively-unbounded head (every token hits the
    broadcast). Both read the same nll_micro table, so the split is a
    pure execution-strategy choice."""
    from prohap_spark.queries.textdata import unigram_logprob_scores

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog ate the cat food"),
            (3, "rare zyzzyva token soup"),
        ],
        ["doc_id", "text"],
    )
    small = {
        r["doc_id"]: (r["n_tokens"], r["sum_nll_micro"])
        for r in unigram_logprob_scores(docs, head_k=2).collect()
    }
    full = {
        r["doc_id"]: (r["n_tokens"], r["sum_nll_micro"])
        for r in unigram_logprob_scores(docs, head_k=1_000_000).collect()
    }
    assert small == full and len(full) == 3


def test_bpe_train_matches_reference_trainer(spark):
    """Distributed BPE training: the learned merge SEQUENCE (rules,
    order, and pair counts) must equal an independent pure-Python
    reference trainer with the same tiebreak (count DESC, pair ASC)
    and the same same-sided-pair exclusion on a literal corpus."""
    from collections import Counter

    from prohap_spark.functions.bpe import bpe_train

    def ref_train(texts, k, min_count=2):
        vocab = Counter()
        for t in texts:
            for w in t.lower().split():
                vocab[tuple(w)] += 1
        merges = []
        for _ in range(k):
            pc = Counter()
            for syms, f in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    if a != b:
                        pc[(a, b)] += f
            if not pc:
                break
            (left, right), cnt = sorted(
                pc.items(), key=lambda kv: (-kv[1], kv[0])
            )[0]
            if cnt < min_count:
                break
            merges.append((left, right, cnt))
            nv = Counter()
            for syms, f in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                nv[tuple(out)] += f
            vocab = nv
        return merges

    texts = [
        "the cat in the hat", "the thin thing", "in the then there",
        "and another antelope", "banana bandana", "thee the them",
        "little lull and tall walls",  # 'l' pairs: same-sided exclusion
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = bpe_train(df, num_merges=10)
    assert got == ref_train(texts, 10)
    assert len(got) >= 8  # training genuinely ran several iterations


def test_pack_best_fit_invariants_and_beats_naive(spark):
    """Best-fit packing: (1) every bin fills to <= seq_len (overflow
    bins only for over-length docs, which sit alone); (2) bin_fill is
    consistent with the member token sums; (3) deterministic across
    runs; (4) total padding beats the naive one-doc-per-sequence
    layout on a workload with many small docs."""
    from prohap_spark.operators.packing import pack_best_fit
    from prohap_spark.queries.registry import table

    d = table(spark, "/root/testdata/sf0.001", "documents")
    out = pack_best_fit(d, "doc_id", "text", seq_len=128, n_shards=4)
    rows = out.collect()
    assert len(rows) == d.count()

    by_bin: dict[tuple, list] = {}
    for r in rows:
        by_bin.setdefault((r["shard"], r["bin_id"]), []).append(r)
    total_pad = 0
    for (_s, _b), members in by_bin.items():
        fill = members[0]["bin_fill"]
        assert all(m["bin_fill"] == fill for m in members)
        assert fill == sum(m["n_tokens"] for m in members)
        if fill > 128:  # overflow bin: a single over-length document
            assert len(members) == 1 and members[0]["n_tokens"] > 128
        else:
            total_pad += 128 - fill
    naive_pad = sum(128 - r["n_tokens"] for r in rows if r["n_tokens"] <= 128)
    assert total_pad < naive_pad / 2  # packing genuinely packs

    rerun = {(r["doc_id"], r["bin_id"]) for r in
             pack_best_fit(d, "doc_id", "text", seq_len=128, n_shards=4).collect()}
    assert rerun == {(r["doc_id"], r["bin_id"]) for r in rows}


def test_quality_classifier_learns_heuristic_signal(spark):
    """Model-based quality filtering: the LR classifier trained on
    weak top/bottom-quantile labels must (1) label only the extreme
    quantiles (middle NULL), (2) score every document, and (3) recover
    the held-out weak labels with >= 0.8 accuracy — i.e. the model
    genuinely learns the signal, not memorizes the train slice."""
    from pyspark.sql import functions as F

    from prohap_spark.operators.classifier import quality_classifier_scores
    from prohap_spark.queries.registry import table

    d = table(spark, "/root/testdata/sf0.01", "documents")
    out = quality_classifier_scores(d).cache()
    try:
        assert out.count() == d.count()
        labeled = out.where(F.col("weak_label").isNotNull()).count()
        # ~half the corpus labeled (top+bottom quartiles)
        assert 0.3 * 500 <= labeled <= 0.7 * 500
        hold = out.where(F.col("weak_label").isNotNull() & ~F.col("is_train"))
        stats = hold.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("pred_good").cast("int") == F.col("weak_label")).cast("int")
            ).alias("ok"),
        ).collect()[0]
        assert stats["n"] >= 20
        assert stats["ok"] / stats["n"] >= 0.8
        assert out.where((F.col("p_good") < 0) | (F.col("p_good") > 1)).count() == 0
    finally:
        out.unpersist()


def test_incremental_dedup_flags(spark):
    """Incremental-ingest semantics on a literal fixture: base keys
    suppress delta rows, within-delta copies keep the smallest id, a
    row that is BOTH a base dup and a delta re-copy stays dup_of_base
    for every copy, and kept = neither flag."""
    from prohap_spark.operators.dedup import incremental_dedup

    base = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [
            (10, "alpha"),   # dup of base
            (11, "gamma"),   # new, first
            (12, "gamma"),   # within-delta dup of 11
            (13, "alpha"),   # base dup AND second delta copy of 'alpha'
            (14, "delta"),   # new
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["dup_of_base"], r["dup_within_delta"], r["kept"])
        for r in incremental_dedup(base, delta, "doc_id", "text").collect()
    }
    assert rows == {
        10: (True, False, False),
        11: (False, False, True),
        12: (False, True, False),
        13: (True, True, False),
        14: (False, False, True),
    }


def test_incremental_lsh_pairs_sides_and_cap(spark):
    """Incremental near-dup: a delta doc near-copying a base doc
    reports side='base'; two near-identical delta docs pair once with
    the smaller id as id_other; base x base pairs never appear; and
    max_bucket_size=1 drops every multi-member base bucket, leaving
    only the within-delta pair."""
    from prohap_spark.operators.dedup import incremental_lsh_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    base = spark.createDataFrame(
        # identical texts: dups WITHIN base must never pair, and every
        # base band bucket has exactly 2 members (the cap=1 target)
        [(1, text), (2, text)],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(10, text + " xyzzy"), (11, text + " xyzzy quux"), (12, "zz yy xx ww vv uu tt ss")],
        "doc_id long, text string",
    )
    out = incremental_lsh_pairs(
        base, delta, "doc_id", "text", threshold=0.5, band_size=4
    ).collect()
    pairs = {(r["id_delta"], r["id_other"], r["side"]) for r in out}
    assert (10, 1, "base") in pairs
    assert (11, 10, "delta") in pairs
    assert all(p[0] >= 10 for p in pairs)          # id_delta is always a delta row
    assert all(p[1] < p[0] or p[2] == "base" for p in pairs)
    assert not any(r["id_delta"] == 12 for r in out)  # unrelated doc pairs nothing

    capped = incremental_lsh_pairs(
        base, delta, "doc_id", "text", threshold=0.5, band_size=4, max_bucket_size=1
    ).collect()
    csides = {r["side"] for r in capped}
    assert "base" not in csides          # every base bucket has 2 members -> dropped
    assert (11, 10, "delta") in {(r["id_delta"], r["id_other"], r["side"]) for r in capped}


def test_incremental_persisted_index_parity(spark, tmp_path):
    """The deployment path — persisted exact-key / LSH-band indexes
    written to parquet, read back, and passed to the incremental
    operators — must return row-for-row the same flags/pairs as the
    in-query recompute path."""
    from pyspark.sql import functions as F

    from prohap_spark.operators.dedup import (
        exact_key_index,
        incremental_dedup,
        incremental_lsh_pairs,
        lsh_band_index,
    )
    from prohap_spark.queries.registry import table

    d = table(spark, "/root/testdata/sf0.01", "documents")
    base = d.where(F.col("doc_id") < 450).select("doc_id", "text")
    delta = d.where(F.col("doc_id") >= 450).select("doc_id", "text").unionAll(
        d.where(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.concat("text", F.lit(" xyzzy")).alias("text"),
        )
    )

    kpath, bpath = str(tmp_path / "keys"), str(tmp_path / "bands")
    exact_key_index(base, "text").write.parquet(kpath)
    lsh_band_index(base, "doc_id", "text").write.parquet(bpath)

    live = {
        tuple(r) for r in incremental_dedup(base, delta, "doc_id", "text").collect()
    }
    idx = {
        tuple(r)
        for r in incremental_dedup(
            None, delta, "doc_id", "text", base_keys=spark.read.parquet(kpath)
        ).collect()
    }
    assert live == idx and live

    live_n = {
        (r["id_delta"], r["id_other"], r["side"], round(r["jaccard"], 6))
        for r in incremental_lsh_pairs(base, delta, "doc_id", "text").collect()
    }
    idx_n = {
        (r["id_delta"], r["id_other"], r["side"], round(r["jaccard"], 6))
        for r in incremental_lsh_pairs(
            base, delta, "doc_id", "text",
            base_bands=spark.read.parquet(bpath),
        ).collect()
    }
    assert live_n == idx_n and live_n


def test_substring_dedup_sliding_coverage(spark):
    """Pin the exact-substring-dedup semantics on a literal fixture:
    a shared 8-gram at DIFFERENT offsets in two docs excises exactly
    the covered positions in both; sub-k docs and within-doc-only
    repeats are untouched (document frequency, not occurrence count,
    drives removal)."""
    from prohap_spark.operators.dedup import substring_dedup

    rows = [
        # shared suffix "c d e f g h i j" at pos 2 in both
        (1, "a b c d e f g h i j"),
        (2, "x y c d e f g h i j"),
        # shorter than k=8: no grams, untouched
        (3, "a b c"),
        # unique 10 words: untouched
        (4, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9"),
        # 8-gram repeated WITHIN one doc only: df=1, untouched
        (5, "p q r s t u v w p q r s t u v w"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["scrubbed_text"])
        for r in substring_dedup(df, "doc_id", "text", k=8).collect()
    }
    assert got[1] == (10, 8, "a b")
    assert got[2] == (10, 8, "x y")
    assert got[3] == (3, 0, "a b c")
    assert got[4] == (10, 0, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9")
    assert got[5] == (16, 0, "p q r s t u v w p q r s t u v w")


def test_scd2_merge_outcomes_and_chaining(spark):
    """Pin SCD2 merge semantics on a literal fixture: change closes +
    reinserts, identical update no-ops, new key inserts, history rides
    through; a second identical batch is a full no-op (idempotence);
    null-safe change detection treats null -> value as a change."""
    from prohap_spark.operators.merge import scd2_merge

    base = spark.createDataFrame(
        [
            (1, "a", 0, 1, False),   # history row, must ride through
            (1, "b", 1, None, True), # will change to "c"
            (2, "x", 1, None, True), # identical update -> no-op
            (3, None, 1, None, True),# null -> "z" must count as change
        ],
        ["k", "v", "valid_from", "valid_to", "is_current"],
    )
    upd = spark.createDataFrame(
        [(1, "c"), (2, "x"), (3, "z"), (4, "new")], ["k", "v"]
    )
    m1 = scd2_merge(base, upd, "k", ["v"], batch_id=2)
    rows = {(r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in m1.collect()}
    assert rows == {
        (1, "a", 0, 1, False),
        (1, "b", 1, 2, False),
        (1, "c", 2, None, True),
        (2, "x", 1, None, True),
        (3, None, 1, 2, False),
        (3, "z", 2, None, True),
        (4, "new", 2, None, True),
    }
    # idempotence: replaying the same batch changes nothing
    m2 = scd2_merge(m1, upd, "k", ["v"], batch_id=3)
    rows2 = {(r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
             for r in m2.collect()}
    assert rows2 == rows


def test_dense_index_bijection_and_determinism(spark):
    """dense_index must be a bijection onto [0, N) for arbitrary
    (non-contiguous) ids, stable across invocations."""
    from prohap_spark.operators.sampling import dense_index

    ids = [(3 * i + 7,) for i in range(1000)]
    df = spark.createDataFrame(ids, ["k"])
    a = {r["k"]: r["idx"] for r in dense_index(df, "k", n_shards=16).collect()}
    assert sorted(a.values()) == list(range(1000))
    b = {r["k"]: r["idx"] for r in dense_index(df, "k", n_shards=16).collect()}
    assert a == b


def test_negative_pairs_match_hashlib_replay(spark):
    """negative_pairs' picks must equal an independent pure-Python
    md5 replay (first 8 hex of md5('qid:rank') mod N probed against
    the md5-ordered dense enumeration), with self-picks dropped."""
    import hashlib

    from prohap_spark.operators.sampling import negative_pairs

    ids = list(range(10, 40))  # N=30
    corpus = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    queries = spark.createDataFrame([(i,) for i in ids], ["qid"])
    got = {
        (r["qid"], r["neg_rank"]): r["neg_id"]
        for r in negative_pairs(corpus, queries, "doc_id", "qid", k=8, n_shards=4).collect()
    }

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    shard = lambda i: int(md5(str(i))[:8], 16) % 4  # noqa: E731
    order = sorted(ids, key=lambda i: (shard(i), md5(str(i)), i))
    # shards are laid out consecutively because the sort key leads
    # with the shard and offsets accumulate in shard order
    expected = {}
    for q in ids:
        for r in range(8):
            pick = order[int(md5(f"{q}:{r}")[:8], 16) % len(ids)]
            if pick != q:
                expected[(q, r)] = pick
    assert got == expected and len(expected) < 30 * 8  # some self-drops


def test_pagerank_matches_numpy_power_iteration(spark):
    """pagerank must match a dense numpy power iteration (same
    damping, same uniform dangling-mass redistribution) to 1e-9 on a
    fixed random digraph with dangling nodes, and stay normalized."""
    from prohap_spark.operators.graph import pagerank

    rng = np.random.default_rng(7)
    n = 40
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in zip(rng.integers(0, n, 150), rng.integers(0, n, 150))
            if a != b and a % 9 != 0  # every 9th node is dangling
        }
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["rank"] for r in pagerank(df, n_iter=12).collect()}

    nodes = sorted({v for e in edges for v in e})
    ix = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    M = np.zeros((m, m))
    deg = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    for a, b in edges:
        M[ix[b], ix[a]] = 1.0 / deg[a]
    d = 0.85
    r = np.full(m, 1.0 / m)
    dangling = np.array([1.0 if v not in deg else 0.0 for v in nodes])
    for _ in range(12):
        r = (1 - d) / m + d * (M @ r + (dangling @ r) / m)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in nodes:
        assert abs(got[v] - r[ix[v]]) < 1e-9


def test_scd2_merge_duplicate_update_keys_collapse(spark):
    """A batch with several distinct updates for one key must collapse
    to ONE new current version (greatest tracked tuple) — never two
    is_current rows for the same key."""
    from prohap_spark.operators.merge import scd2_merge

    base = spark.createDataFrame(
        [(1, "x", 1, None, True)],
        "k long, v string, valid_from int, valid_to int, is_current boolean",
    )
    upd = spark.createDataFrame([(1, "a"), (1, "b"), (1, "a")], ["k", "v"])
    out = scd2_merge(base, upd, "k", ["v"], batch_id=2).collect()
    current = [r for r in out if r["is_current"]]
    assert len(current) == 1 and current[0]["v"] == "b"
    assert {(r["k"], r["v"], r["is_current"]) for r in out} == {
        (1, "x", False), (1, "b", True)
    }
    with pytest.raises(ValueError):
        scd2_merge(base, upd, "k", [], batch_id=2)


def test_pagerank_empty_graph(spark):
    from prohap_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty).collect() == []


def test_sampling_and_substring_empty_inputs(spark):
    """Degenerate-input discipline (the pagerank lesson): empty
    corpora flow through dense_index / negative_pairs /
    substring_dedup as empty results, never a crash or a bogus row."""
    from prohap_spark.operators.dedup import substring_dedup
    from prohap_spark.operators.sampling import dense_index, negative_pairs

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert substring_dedup(empty_docs, "doc_id", "text").collect() == []
    empty_ids = spark.createDataFrame([], "k long")
    assert dense_index(empty_ids, "k").collect() == []
    qs = spark.createDataFrame([(1,)], ["qid"])
    # empty corpus: try_mod (not %) makes the picks null so they match
    # nothing — a plain % would raise REMAINDER_BY_ZERO under ANSI
    # mode whenever AQE doesn't prune the empty side first, so pin it
    # with AQE off (the configuration that reproduced the crash)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        assert negative_pairs(empty_ids, qs, "k", "qid", k=2).collect() == []
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_negative_pairs_persisted_index_parity(spark, tmp_path):
    """The persisted-index path (dense_index written to parquet and
    passed back) must reproduce the in-query picks row-for-row."""
    from prohap_spark.operators.sampling import dense_index, negative_pairs

    corpus = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    qs = spark.createDataFrame([(i,) for i in range(0, 200, 10)], ["qid"])
    p = str(tmp_path / "dense_idx")
    dense_index(corpus, "doc_id").write.parquet(p)
    live = {tuple(r) for r in negative_pairs(corpus, qs, "doc_id", "qid").collect()}
    idx = {
        tuple(r)
        for r in negative_pairs(
            corpus, qs, "doc_id", "qid", index=spark.read.parquet(p)
        ).collect()
    }
    assert live == idx and live


def test_scd2_merge_random_chains_match_python_fold(spark):
    """Differential property: random batch chains applied through
    scd2_merge equal a pure-Python SCD2 fold — one current row per
    live key, contiguous validity chains, correct no-op handling."""
    rng = np.random.default_rng(3)
    from prohap_spark.operators.merge import scd2_merge

    for _trial in range(3):
        dim = spark.createDataFrame(
            [], "k long, v string, valid_from int, valid_to int, is_current boolean"
        )
        ref: dict[int, list] = {}  # k -> [[v, vf, vt]]
        for batch_id in range(2, 6):
            ks = sorted(set(rng.integers(0, 6, 4).tolist()))
            vals = [f"v{rng.integers(0, 3)}" for _ in ks]
            dim = scd2_merge(
                dim,
                spark.createDataFrame(list(zip(ks, vals)), ["k", "v"]),
                "k",
                ["v"],
                batch_id,
            )
            for k, v in zip(ks, vals):
                versions = ref.setdefault(k, [])
                cur = next((x for x in versions if x[2] is None), None)
                if cur is None or cur[0] != v:
                    if cur is not None:
                        cur[2] = batch_id
                    versions.append([v, batch_id, None])
        got = {
            (r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in dim.collect()
        }
        want = {
            (k, v, vf, vt, vt is None)
            for k, versions in ref.items()
            for v, vf, vt in versions
        }
        assert got == want and want
        # invariant: exactly one current row per live key
        per_key = {}
        for k, _v, _vf, vt, is_cur in got:
            per_key[k] = per_key.get(k, 0) + (1 if is_cur else 0)
        assert all(c == 1 for c in per_key.values())


def test_share_scan_off_is_value_identical(spark):
    """share_scan=False (the preemptible-cluster / live-source path)
    must return row-identical results to the checkpointed default for
    all three sharing operators."""
    from prohap_spark.operators.dedup import (
        incremental_lsh_pairs,
        segment_dedup,
        substring_dedup,
    )
    from prohap_spark.queries.registry import table

    d = table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    for op in (segment_dedup, substring_dedup):
        on = {tuple(r) for r in op(d, "doc_id", "text").collect()}
        off = {tuple(r) for r in op(d, "doc_id", "text", share_scan=False).collect()}
        assert on == off and on
    base = d.where("doc_id < 40")
    delta = d.where("doc_id >= 40")
    key = lambda rows: {(r["id_delta"], r["id_other"], r["side"]) for r in rows}  # noqa: E731
    on = key(incremental_lsh_pairs(base, delta, "doc_id", "text").collect())
    off = key(
        incremental_lsh_pairs(
            base, delta, "doc_id", "text", share_scan=False
        ).collect()
    )
    assert on == off


def _persistent_rdd_ids(spark):
    ids = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def _drop_persistent_rdds(spark, ids):
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    victims = []
    while it.hasNext():
        t = it.next()
        if t._1() in ids:
            victims.append(t._2())
    for jrdd in victims:
        jrdd.unpersist(True)
    return len(victims)


def test_share_scan_block_loss_fails_loud_and_off_path_survives(spark):
    """Cluster-shaped failure injection for the share_scan
    localCheckpoint paths (segment_dedup / substring_dedup): local
    checkpoints are documented as NON-fault-tolerant — losing the
    executor that held a block leaves no recompute path — and the
    failure contract is FAIL LOUD, never silently partial results.
    Simulate the loss locally by unpersisting the materialized
    checkpoint RDD (block-manager-wise exactly what executor death
    does to its blocks) and assert (a) a fresh value-bearing consumer
    of the share_scan frame raises Spark's
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND error rather than returning
    data, and (b) share_scan=False under the same injection still
    computes, value-identical — its plan keeps the full lineage,
    which is precisely the trade the docstrings sell.

    The probe must be a NEW plan that genuinely needs the
    checkpointed subtree's VALUES: re-collecting the already-executed
    frame is served from its cached AQE stage state (materialized
    broadcasts / reusable shuffle outputs), and a bare count() lets
    Catalyst eliminate the aggregate-keyed left join entirely — both
    mask the loss. On a real cluster the masking is narrower still
    (executor death also takes its shuffle files), so the loud-error
    path below is the one that matters."""
    from prohap_spark.operators.dedup import segment_dedup, substring_dedup
    from prohap_spark.queries.registry import table

    d = (
        table(spark, "/root/testdata/sf0.001", "documents")
        .where("doc_id < 30")
        .select("doc_id", "text")
    )
    for op in (segment_dedup, substring_dedup):
        before = _persistent_rdd_ids(spark)
        on = op(d, "doc_id", "text")
        expected = {tuple(r) for r in on.collect()}  # materializes the checkpoint
        assert expected
        injected = _drop_persistent_rdds(spark, _persistent_rdd_ids(spark) - before)
        assert injected >= 1  # the share_scan checkpoint WAS resident
        try:
            on.agg(F.sum("n_removed")).collect()
        except Exception as e:  # noqa: BLE001
            assert "heckpoint block" in str(e) or "CHECKPOINT" in str(e)
        else:
            raise AssertionError(
                f"{op.__name__} share_scan frame served results after its "
                "checkpoint blocks were dropped — silent recompute or stale "
                "data instead of the documented loud failure"
            )
        off = {tuple(r) for r in op(d, "doc_id", "text", share_scan=False).collect()}
        assert off == expected


def test_triangle_count_matches_brute_force(spark):
    """triangle_count vs a python brute force on a literal graph with
    a clique (C(4,3)=4 triangles), a triangle-free square, duplicate
    and reversed edges, and a self-loop (all must be canonicalized
    away)."""
    from itertools import combinations

    from prohap_spark.operators.graph import triangle_count

    edges = [
        # K4 on {1,2,3,4}
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        # duplicates / reversed / self-loop noise
        (2, 1), (3, 1), (5, 5),
        # square 10-11-12-13 (no diagonals -> no triangles)
        (10, 11), (11, 12), (12, 13), (13, 10),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["u"]: r["n_triangles"] for r in triangle_count(df).collect()}

    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    verts = sorted({v for e in es for v in e})
    want: dict[int, int] = {}
    for a, b, c in combinations(verts, 3):
        if {(a, b), (a, c), (b, c)} <= es:
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    # per-vertex participation: 4 triangles in K4, 3 per vertex
    assert got == want and sum(want.values()) == 12


def test_triangle_count_degree_orientation_bounds_hub_fanout(spark):
    """The r6 verdict's power-law guard: a star hub with 1000 leaves
    (plus a handful of leaf-leaf chords forming real triangles) must
    orient every hub edge INTO the hub, so the hub contributes ZERO
    wedges — id-ordered orientation would fan out C(999,2) ≈ 5·10^5
    wedges from it (the hub id is below every leaf id). Also pins
    correctness on the same graph against a python brute force."""
    from itertools import combinations

    from prohap_spark.operators.graph import oriented_arcs, triangle_count

    hub = 0
    leaves = list(range(1, 1001))
    edges = [(hub, leaf) for leaf in leaves]
    # chords among low-id leaves: triangles (hub, 2k+1, 2k+2)
    chords = [(2 * k + 1, 2 * k + 2) for k in range(20)]
    df = spark.createDataFrame(edges + chords, ["src", "dst"])

    arcs = oriented_arcs(df).groupBy("a").count().collect()
    out_deg = {r["a"]: r["count"] for r in arcs}
    # hub has max degree -> never a tail
    assert hub not in out_deg
    wedge_count = sum(d * (d - 1) // 2 for d in out_deg.values())
    m = len(edges) + len(chords)
    # O(m^1.5) bound with a generous constant; the d^2 shape would be
    # ~5e5 — orders of magnitude over this ceiling
    assert wedge_count <= m, wedge_count

    got = {r["u"]: r["n_triangles"] for r in triangle_count(df).collect()}
    es = {tuple(sorted(e)) for e in edges + chords}
    adj: dict[int, set] = {}
    for a, b in es:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want: dict[int, int] = {}
    for a, b in chords:
        for c in adj[a] & adj[b]:
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    assert got == want and want[hub] == 20


def test_pagerank_micro_tracks_float_pagerank_and_conserves_mass(spark):
    """pagerank_micro (the driver-checkable fixed-point variant) must
    track a float reference of the SAME update rule to ~1e-6 of the
    probability mass, never gain mass (truncation only leaks), and be
    exactly reproducible across two runs with different partitioning
    (the whole point of integer arithmetic)."""
    from prohap_spark.operators.graph import pagerank_micro

    rng = np.random.default_rng(11)
    n = 40
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in zip(rng.integers(0, n, 150), rng.integers(0, n, 150))
            if a != b and a % 9 != 0
        }
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    P = 10**12
    got = {
        r["id"]: r["rank_micro"]
        for r in pagerank_micro(df, n_iter=8, precision=P).collect()
    }

    nodes = sorted({v for e in edges for v in e})
    m = len(nodes)
    deg: dict[int, int] = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    ref = {v: 1.0 / m for v in nodes}
    for _ in range(8):
        inflow = {v: 0.0 for v in nodes}
        dm = 0.0
        for v in nodes:
            if v in deg:
                pass
            else:
                dm += ref[v]
        for a, b in edges:
            inflow[b] += ref[a] / deg[a]
        ref = {v: 0.15 / m + 0.85 * (inflow[v] + dm / m) for v in nodes}

    assert set(got) == set(nodes)
    assert sum(got.values()) <= P  # truncation never creates mass
    assert sum(got.values()) >= P - P // 10**6
    for v in nodes:
        assert abs(got[v] / P - ref[v]) < 2e-6, (v, got[v] / P, ref[v])

    again = {
        r["id"]: r["rank_micro"]
        for r in pagerank_micro(
            df.repartition(7), n_iter=8, precision=P
        ).collect()
    }
    assert again == got  # bit-exact under re-partitioning


def test_drop_positions_matches_python_reference(spark):
    """Property pin for the scrub-reassembly core: _drop_positions
    over randomized (items, removal-set) rows must equal the obvious
    python list comprehension — including empty removals, full
    removals, adjacent runs, and out-of-order input guarded by the
    callers' sort."""
    import random

    from prohap_spark.operators.dedup import _drop_positions

    rng = random.Random(7)
    rows = []
    for i in range(200):
        n = rng.randrange(0, 40)
        items = [f"w{j}" for j in range(n)]
        k = rng.randrange(0, n + 1) if n else 0
        rm = sorted(rng.sample(range(n), k)) if n else []
        rows.append((i, items, rm))
    df = spark.createDataFrame(
        rows, "id long, items array<string>, rm array<int>"
    )
    got = {
        r["id"]: r["kept"]
        for r in df.select(
            "id", _drop_positions(F.col("items"), F.col("rm")).alias("kept")
        ).collect()
    }
    for i, items, rm in rows:
        want = [w for j, w in enumerate(items) if j not in set(rm)]
        assert got[i] == want, (i, got[i], want)


def test_containment_join_bound_fails_loud_and_matches_unbounded(spark):
    """The J9 broadcast-nested-loop keeps its 'right side small'
    contract by construction: a probe side over max_probe_rows raises
    a ValueError naming the overflow (a silently-grown probe set is a
    complexity-class change, not a slower plan), and under the bound
    the join matches the plain instr-predicate formulation exactly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from prohap_spark.operators.containment import containment_join

    docs = spark.createDataFrame(
        [(i, f"doc{i} needle{i % 3} tail") for i in range(30)],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100 + j, f"needle{j}") for j in range(3)],
        "probe_id long, probe string",
    )
    got = sorted(
        containment_join(docs, probes, "text", "probe", max_probe_rows=10)
        .select("doc_id", "probe_id")
        .collect()
    )
    want = sorted(
        docs.join(probes, F.instr("text", F.col("probe")) > 0)
        .select("doc_id", "probe_id")
        .collect()
    )
    assert got == want and len(got) == 30

    with _pytest.raises(ValueError, match="max_probe_rows=2"):
        containment_join(docs, probes, "text", "probe", max_probe_rows=2)
    # enforce_bound=False skips the count action entirely (callers with
    # a by-construction bound, e.g. limit(k), opt out of the extra scan)
    n = containment_join(
        docs, probes, "text", "probe", max_probe_rows=2, enforce_bound=False
    ).count()
    assert n == 30


def test_lsh_plan_math_and_empirical_recall(spark):
    """lsh_plan (r10): (a) the analytic pieces are self-consistent —
    the chosen config meets the recall/FP constraints and no cheaper
    num_hashes does; (b) the S-curve PREDICTS measured reality: 200
    planted pairs at J = 0.8 run through lsh_candidate_pairs with the
    planned config must be detected at a rate within binomial noise
    of the predicted detection probability."""
    from prohap_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_detection_prob,
        lsh_plan,
    )

    plan = lsh_plan(0.8, min_recall=0.95, max_fp_sim=0.3, max_fp_prob=0.05)
    assert plan["num_hashes"] % plan["band_size"] == 0
    assert plan["recall_at_threshold"] >= 0.95
    assert plan["fp_prob_at_max_fp_sim"] <= 0.05
    # minimality: every smaller signature has NO feasible banding
    for nh in range(2, plan["num_hashes"]):
        assert not any(
            nh % bs == 0
            and lsh_detection_prob(0.8, nh, bs) >= 0.95
            and lsh_detection_prob(0.3, nh, bs) <= 0.05
            for bs in range(1, nh + 1)
        ), nh
    # infeasible constraints fail loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="relax the constraints"):
        lsh_plan(0.5, min_recall=0.999, max_fp_sim=0.45, max_fp_prob=0.001, max_hashes=32)

    # empirical leg: 200 disjoint-vocabulary pairs at exactly J = 0.8
    # (|A| = |B| = 18 tokens sharing 16: 16/20 = 0.8)
    rows = []
    for p in range(200):
        shared = [f"p{p}s{i}" for i in range(16)]
        rows.append((2 * p, shared + [f"p{p}a1", f"p{p}a2"]))
        rows.append((2 * p + 1, shared + [f"p{p}b1", f"p{p}b2"]))
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            df, "doc_id", "tokens", plan["num_hashes"], plan["band_size"]
        ).collect()
    }
    detected = sum(1 for p in range(200) if (2 * p, 2 * p + 1) in got)
    predicted = lsh_detection_prob(0.8, plan["num_hashes"], plan["band_size"])
    # binomial sd at n=200 is < 0.016 for any p in the planned range;
    # 0.06 covers 3+ sd plus the md5-hash-family deviation from the
    # idealized independent-permutation model
    assert abs(detected / 200 - predicted) <= 0.06, (detected, predicted)


def test_dedup_index_torn_write_fails_loud(spark, tmp_path):
    """r7 verdict #8: a torn/partial persisted dedup index must fail
    loud, never silently under-dedup. Every surviving part-file of a
    torn write is internally valid parquet, so a plain read returns a
    key SUBSET and the next ingest quietly admits duplicates — the
    manifest (count + order-independent xor-crc32 + column set)
    written by write_dedup_index refuses exactly that."""
    import os
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from prohap_spark.operators.dedup import (
        exact_key_index,
        incremental_dedup,
        read_dedup_index,
        write_dedup_index,
    )

    base = spark.createDataFrame(
        [(i, f"text body {i}") for i in range(200)], "doc_id long, text string"
    )
    idx = exact_key_index(base, "text").repartition(8)
    path = str(tmp_path / "keyidx")
    manifest = write_dedup_index(idx, path)
    assert manifest["n_rows"] == 200 and manifest["columns"] == ["key"]

    # untampered roundtrip validates AND serves the ingest identically
    # to a freshly derived index
    loaded = read_dedup_index(spark, path)
    delta = spark.createDataFrame(
        [(1000, "text body 7"), (1001, "brand new"), (1002, "brand new")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["dup_of_base"], r["dup_within_delta"], r["kept"])
        for r in incremental_dedup(
            None, delta, "doc_id", "text", base_keys=loaded
        ).collect()
    }
    assert got == {
        1000: (True, False, False),
        1001: (False, False, True),
        1002: (False, True, False),
    }

    # torn write: delete one part-file — plain parquet read would
    # happily return the subset; the validated read refuses
    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) > 1, "need multiple part files to tear"
    os.remove(os.path.join(path, parts[0]))
    with _pytest.raises(ValueError, match="torn/partial"):
        read_dedup_index(spark, path)

    # missing manifest (write torn before the manifest landed)
    path2 = str(tmp_path / "keyidx2")
    idx.write.mode("overwrite").parquet(path2)
    with _pytest.raises(ValueError, match="no manifest"):
        read_dedup_index(spark, path2)

    # post-write append (stragglers/duplicate task output): count and
    # checksum both drift
    path3 = str(tmp_path / "keyidx3")
    write_dedup_index(idx, path3)
    extra = sorted(
        f for f in os.listdir(path3)
        if f.startswith("part-") and f.endswith(".parquet")
    )[0]
    shutil.copy(
        os.path.join(path3, extra), os.path.join(path3, "part-zzz-dup.parquet")
    )
    with _pytest.raises(ValueError, match="does not match its"):
        read_dedup_index(spark, path3)


def test_cdc_chunking_shift_resistance_and_bounds(spark):
    """Content-defined chunking (r10): (a) SHIFT RESISTANCE — after
    inserting words at the head of a document, the surviving chunk
    multiset overlaps the original's far more than fixed-window
    segmentation's does (whose every window shifts); (b) chunk sizes
    respect [min_words, max_words] except the final fragment;
    (c) deterministic under repartitioning; (d) cdc_dedup_stats flags
    exactly the cross-document duplicated chunks."""
    import random as _random

    from prohap_spark.operators.dedup import cdc_chunk_table, cdc_dedup_stats

    rng = _random.Random(11)
    vocab = [f"tok{v}" for v in range(500)]
    body = " ".join(rng.choice(vocab) for _ in range(600))
    shifted = "inserted header words here " + body
    df = spark.createDataFrame(
        [(1, body), (2, shifted)], "doc_id long, text string"
    )
    ch = cdc_chunk_table(df, "doc_id", "text", min_words=8, max_words=64)
    rows = ch.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"]))
    c1 = {c for _, c in by_doc[1]}
    c2 = {c for _, c in by_doc[2]}
    cdc_shared = len(c1 & c2) / len(c1)
    # fixed-window comparison: every 16-word window shifts by the
    # 4-word insertion, so (almost) nothing survives
    def fixed(text):
        w = text.lower().split()
        return {" ".join(w[i : i + 16]) for i in range(0, len(w), 16)}

    fixed_shared = len(fixed(body) & fixed(shifted)) / len(fixed(body))
    assert cdc_shared >= 0.7, (cdc_shared, len(c1), len(c2))
    assert fixed_shared <= 0.1, fixed_shared
    assert cdc_shared > fixed_shared + 0.5

    # (b) size bounds: all but each doc's final chunk inside
    # [min_words, max_words]
    for doc, chunks in by_doc.items():
        ordered = [c for _, c in sorted(chunks)]
        for c in ordered[:-1]:
            assert 8 <= len(c.split()) <= 64, (doc, len(c.split()))
        assert len(ordered[-1].split()) <= 64

    # (c) partition invariance
    re16 = {
        (r["doc_id"], r["chunk_idx"], r["chunk_hash"])
        for r in cdc_chunk_table(
            df.repartition(16), "doc_id", "text", min_words=8, max_words=64
        ).collect()
    }
    assert re16 == {(r["doc_id"], r["chunk_idx"], r["chunk_hash"]) for r in rows}

    # (d) dup stats: doc 3 repeats doc 1's tail verbatim behind fresh
    # content — its shared chunks (and only those) flag as dups
    tail = " ".join(body.split()[-200:])
    df3 = spark.createDataFrame(
        [(1, body), (3, "completely fresh opening " * 10 + tail)],
        "doc_id long, text string",
    )
    stats = {r["doc_id"]: r for r in cdc_dedup_stats(df3, "doc_id", "text").collect()}
    assert stats[3]["n_dup_chunks"] > 0
    assert stats[1]["n_dup_chunks"] > 0
    assert stats[3]["n_dup_chunks"] < stats[3]["n_chunks"]  # fresh part kept


def test_dedup_index_torn_append_repair_resumes_ingest(spark, tmp_path):
    """r9 verdict #7: the full incremental-ingest LIFECYCLE across a
    torn append — ingest delta1, append its kept keys, TEAR the
    appended index, observe the loud failure, REPAIR by re-deriving
    from the surviving inputs, and complete the delta2 ingest with
    dedup decisions identical to a never-torn from-scratch run."""
    import os

    import pytest as _pytest

    from prohap_spark.operators.dedup import (
        exact_key_index,
        incremental_dedup,
        read_dedup_index,
        write_dedup_index,
    )

    base = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(100)], "doc_id long, text string"
    )
    path = str(tmp_path / "lifecycle_idx")
    write_dedup_index(exact_key_index(base, "text").repartition(4), path)

    # ingest 1: two new docs, one base dup — kept rows append to index
    delta1 = spark.createDataFrame(
        [(200, "doc body 3"), (201, "fresh one"), (202, "fresh two")],
        "doc_id long, text string",
    )
    d1 = incremental_dedup(None, delta1, "doc_id", "text",
                           base_keys=read_dedup_index(spark, path))
    kept1 = {r["doc_id"] for r in d1.where("kept").collect()}
    assert kept1 == {201, 202}
    # build the curated corpus from the MATERIALIZED kept set — the
    # lazy join's lineage would read the index files the next write
    # overwrites (and the tear deletes)
    corpus_after_1 = base.unionByName(
        delta1.where(F.col("doc_id").isin(*kept1))
    )
    write_dedup_index(
        exact_key_index(corpus_after_1, "text").repartition(4), path
    )

    # the torn append: one part-file of the refreshed index dies
    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) > 1
    os.remove(os.path.join(path, parts[0]))
    with _pytest.raises(ValueError, match="torn/partial"):
        read_dedup_index(spark, path)

    # REPAIR: re-derive the index from the surviving curated corpus
    # (the inputs of record), re-write, and the validated read serves
    write_dedup_index(
        exact_key_index(corpus_after_1, "text").repartition(4), path
    )
    repaired = read_dedup_index(spark, path)

    # ingest 2 resumes: dups against base, against ingest-1 keeps, and
    # within itself must all flag exactly as a from-scratch run
    delta2 = spark.createDataFrame(
        [
            (300, "doc body 42"),   # dup of original base
            (301, "fresh one"),     # dup of an ingest-1 kept row
            (302, "fresh three"),   # genuinely new
            (303, "fresh three"),   # dup within delta2
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["dup_of_base"], r["dup_within_delta"], r["kept"])
        for r in incremental_dedup(
            None, delta2, "doc_id", "text", base_keys=repaired
        ).collect()
    }
    scratch = {
        r["doc_id"]: (r["dup_of_base"], r["dup_within_delta"], r["kept"])
        for r in incremental_dedup(
            corpus_after_1, delta2, "doc_id", "text"
        ).collect()
    }
    assert got == scratch == {
        300: (True, False, False),
        301: (True, False, False),
        302: (False, False, True),
        303: (False, True, False),
    }


def test_bpe_train_oracle_randomized_cross_engine(spark):
    """The unrolled DuckDB replay (bpe_train_oracle_sql) must match the
    Spark trainer on corpora it was NOT tuned on — randomized word
    soups stress exactly the edges the sf0.01 comparison cannot:
    argmax ties breaking on (count DESC, left ASC, right ASC),
    early stop when the best pair drops under min_count, single-char
    words, and repeated words changing pair weights."""
    import random

    import duckdb

    from prohap_spark.functions.bpe import bpe_train, bpe_train_oracle_sql

    rng = random.Random(80)
    alphabet = "abcde"
    for trial in range(6):
        n_docs = rng.randint(2, 5)
        docs = []
        for i in range(n_docs):
            words = [
                "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 12))
            ]
            docs.append((i, " ".join(words)))
        num_merges = rng.choice([3, 5, 8])
        min_count = rng.choice([1, 2, 3])

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = [
            (left, right, cnt)
            for left, right, cnt in bpe_train(
                df, num_merges=num_merges, min_count=min_count
            )
        ]

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, '{t}')" for i, t in docs)
            + ") AS v(doc_id, text)"
        )
        sql = bpe_train_oracle_sql(num_merges=num_merges, min_count=min_count)
        want = [
            (l, r, int(c))
            for _rank, l, r, c in con.execute(
                sql + " ORDER BY rank"
            ).fetchall()
        ]
        assert got == want, (
            f"trial {trial}: spark={got} duckdb={want} "
            f"(num_merges={num_merges}, min_count={min_count}, docs={docs})"
        )


def test_hll_distinct_accuracy_and_partition_invariance(spark):
    """The deterministic HLL (functions/sketches.py): the m=64 raw
    estimator must land within the ~13% design error (generous 25%
    assert band) across two orders of magnitude of true cardinality,
    and — because every intermediate is an exact integer — must return
    BIT-IDENTICAL results under any repartitioning."""
    from pyspark.sql import functions as F

    from prohap_spark.functions.sketches import hll_distinct

    rows = []
    for grp, n_distinct in (("a", 50), ("b", 500), ("c", 5000)):
        rows += [(grp, f"{grp}v{i % n_distinct}") for i in range(n_distinct * 3)]
    df = spark.createDataFrame(rows, "g string, v string")

    got = {r["g"]: r for r in hll_distinct(df, ["g"], "v").collect()}
    for grp, n_distinct in (("b", 500), ("c", 5000)):
        est = got[grp]["hll_est"]
        assert abs(est - n_distinct) / n_distinct < 0.25, (grp, est, n_distinct)
    # n = 50 << 2.5m is the small-range regime where the raw estimator
    # biases HIGH: since r10 the estimator applies linear counting
    # m·ln(m/V) internally (all-integer iln_fp, see module docstring),
    # so the EMITTED estimate must already be in band — and must agree
    # with the float reference formula to within fixed-point rounding
    import math

    v = got["a"]["hll_zero_registers"]
    assert v > 0
    lc_float = 64 * math.log(64 / v)
    assert abs(got["a"]["hll_est"] - 50) / 50 < 0.25, got["a"]
    assert abs(got["a"]["hll_est"] - lc_float) <= 1, (got["a"], lc_float)
    # the 5000-distinct group fills all 64 registers
    assert got["c"]["hll_zero_registers"] == 0

    re16 = {
        (r["g"], r["hll_est"], r["hll_zero_registers"])
        for r in hll_distinct(df.repartition(16, "v"), ["g"], "v").collect()
    }
    re1 = {
        (r["g"], r["hll_est"], r["hll_zero_registers"])
        for r in hll_distinct(df.coalesce(1), ["g"], "v").collect()
    }
    assert re16 == re1 == {
        (g, r["hll_est"], r["hll_zero_registers"]) for g, r in got.items()
    }


def test_hll_linear_counting_cross_engine_bit_exact(spark):
    """The r10 linear-counting correction: for cardinalities that put
    the sketch in the small range (V zero registers > 0, raw estimate
    ≤ 2.5m), the Spark estimator and the DuckDB replay must both take
    the LC branch and return the SAME integers — the correction is
    computed with the all-integer fixed-point ln, so bit-exactness is
    by construction, pinned here across the branch boundary. Also pins
    the dormancy invariant the r8 driver green of agg_exact_distinct
    relies on: at the gate SF every group's cardinality is far above
    2.5m, so the correction provably never fires there (checked over
    the real gate tables in the oracle engine, where it's cheap)."""
    import duckdb

    from prohap_spark.functions.sketches import (
        LC_THRESHOLD,
        hll_distinct,
        hll_oracle_sql,
    )

    rows = []
    for grp, n_distinct in (("t1", 1), ("t7", 7), ("t30", 30), ("t90", 90), ("big", 4000)):
        rows += [(grp, f"{grp}v{i % n_distinct}") for i in range(n_distinct * 2)]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {
        r["g"]: (r["hll_est"], r["hll_zero_registers"])
        for r in hll_distinct(df, ["g"], "v").collect()
    }

    con = duckdb.connect()
    con.sql("CREATE TABLE t (g VARCHAR, v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = {r[0]: (r[1], r[2]) for r in con.sql(hll_oracle_sql("t", "g", "v")).fetchall()}
    assert got == oracle, (got, oracle)

    # the tiny groups exercise the LC branch (V > 0) and land close at
    # small n where the raw estimator is known-biased; the big group
    # exercises the raw branch
    for grp, n_true in (("t1", 1), ("t7", 7), ("t30", 30)):
        est, v = got[grp]
        assert v > 0, grp
        assert abs(est - n_true) <= max(2, 0.25 * n_true), (grp, est)
    assert got["big"][1] == 0  # raw branch: all registers hit

    # dormancy at the gate SF: both registered consumers' group
    # cardinalities clear 2.5m by an order of magnitude, so the r8
    # green of agg_exact_distinct (not re-fronted) is value-identical
    sf = "/root/testdata/sf0.01"
    for tbl, g, v in (
        ("orders", "o_orderpriority", "o_custkey"),
        ("lineitem", "l_returnflag", "l_orderkey"),
    ):
        con.sql(
            f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{sf}/{tbl}.parquet')"
        )
        for _, raw_est, zeros in con.sql(hll_oracle_sql(tbl, g, v)).fetchall():
            assert zeros == 0 or raw_est > LC_THRESHOLD, (tbl, raw_est, zeros)


def test_sketch_merge_algebra_equals_single_build(spark):
    """Sketch algebra (r10): sketches built on independent shards and
    MERGED must equal the single-pass build over the concatenated
    data — the property that makes sketches the incremental-ingest
    state at 100 TB. HLL: register max-merge → identical (est, zeros),
    including across the linear-counting branch. Bloom: word bit_or
    merge → identical words. CMS: counter sum merge → identical
    counters. All exact-integer equalities, not tolerance checks."""
    from prohap_spark.functions.sketches import (
        bloom_build,
        bloom_merge,
        cms_build,
        cms_merge,
        hll_distinct,
        hll_estimate_from_registers,
        hll_merge,
        hll_registers,
    )

    # overlapping shards: shard1 = ids 0..599, shard2 = 400..999 (the
    # merge must also dedupe the overlap, which max/bit_or do and sum
    # deliberately does NOT — CMS counts the STREAM)
    def docs(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
        )

    s1, s2, full = docs(0, 600), docs(400, 1000), docs(0, 1000)

    merged_regs = hll_merge(
        hll_registers(s1, ["g"], "v"), hll_registers(s2, ["g"], "v")
    )
    got = {
        r["g"]: (r["hll_est"], r["hll_zero_registers"])
        for r in hll_estimate_from_registers(merged_regs, ["g"]).collect()
    }
    # the union of the two shards has duplicates (400..599 twice) —
    # HLL is duplicate-insensitive, so compare against the DISTINCT
    # union, i.e. full
    want = {
        r["g"]: (r["hll_est"], r["hll_zero_registers"])
        for r in hll_distinct(full, ["g"], "v").collect()
    }
    assert got == want
    # small-range leg: tiny shards exercise the LC branch post-merge
    t1 = spark.createDataFrame([("a", f"x{i}") for i in range(4)], "g string, v string")
    t2 = spark.createDataFrame([("a", f"x{i}") for i in range(2, 7)], "g string, v string")
    tm = hll_estimate_from_registers(
        hll_merge(hll_registers(t1, ["g"], "v"), hll_registers(t2, ["g"], "v")), ["g"]
    ).collect()[0]
    tf = hll_distinct(
        t1.unionByName(t2).distinct(), ["g"], "v"
    ).collect()[0]
    assert (tm["hll_est"], tm["hll_zero_registers"]) == (
        tf["hll_est"],
        tf["hll_zero_registers"],
    )
    assert tm["hll_zero_registers"] > 0  # the LC branch was actually on

    K, MB = 4, 1 << 14
    g1 = s1.select(F.col("v").alias("gram"))
    g2 = s2.select(F.col("v").alias("gram"))
    bm = {
        r["word_idx"]: r["word"]
        for r in bloom_merge(
            bloom_build(g1, "gram", K, MB), bloom_build(g2, "gram", K, MB)
        ).collect()
    }
    bf = {
        r["word_idx"]: r["word"]
        for r in bloom_build(full.select(F.col("v").alias("gram")), "gram", K, MB).collect()
    }
    assert bm == bf

    # CMS is a STREAM sketch: merged shards == concatenated stream
    # (including the double-counted overlap)
    toks1 = s1.select(F.col("g").alias("tok"))
    toks2 = s2.select(F.col("g").alias("tok"))
    cm = {
        (r["j"], r["idx"]): r["cnt"]
        for r in cms_merge(
            cms_build(toks1, "tok", 4, 256), cms_build(toks2, "tok", 4, 256)
        ).collect()
    }
    cf = {
        (r["j"], r["idx"]): r["cnt"]
        for r in cms_build(
            toks1.unionByName(toks2), "tok", 4, 256
        ).collect()
    }
    assert cm == cf


def test_linear_probe_integer_trainer_cross_engine_and_invariant(spark):
    """The integer fixed-point linear-probe trainer (the device that
    can replace text_quality_classifier's rows-only gate): learned
    weights must (a) replay BIT-EXACTLY as unrolled DuckDB CTEs,
    (b) be partitioning-invariant, and (c) track an equivalent float
    gradient-descent reference in direction and magnitude."""
    import duckdb

    from prohap_spark.operators.classifier import (
        linear_probe_oracle_sql,
        linear_probe_train_micro,
    )

    # deterministic synthetic regression: y ≈ 0.8*x1 - 0.3*x2 (+ a
    # bounded md5-derived wobble), features in [0, 1]
    import hashlib

    rows = []
    for i in range(400):
        x1 = (i % 97) / 97.0
        x2 = (i % 53) / 53.0
        wob = (int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) / 65535.0 - 0.5) * 0.1
        y = max(0.0, min(1.0, 0.8 * x1 - 0.3 * x2 + 0.25 + wob))
        rows.append((i, x1, x2, y))
    df = spark.createDataFrame(rows, "i long, x1 double, x2 double, y double")

    w = linear_probe_train_micro(df, ["x1", "x2"], "y", n_iter=8, lr_shift=6)
    w_re = linear_probe_train_micro(
        df.repartition(16, "i"), ["x1", "x2"], "y", n_iter=8, lr_shift=6
    )
    assert w == w_re, (w, w_re)  # exact integers: any partitioning

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE probe AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {x1!r}, {x2!r}, {y!r})" for i, x1, x2, y in rows)
        + ") AS v(i, x1, x2, y)"
    )
    sql = linear_probe_oracle_sql("probe", ["x1", "x2"], "y", n_iter=8, lr_shift=6)
    want = [int(r[1]) for r in con.execute(sql + " ORDER BY j").fetchall()]
    assert w == want, (w, want)  # bit-exact cross-engine replay

    # float-GD reference with the same schedule: signs must agree and
    # the fixed-point weights (units 2^-20 per micro-feature) must land
    # within 25% of the float weights once both are in natural units
    import numpy as np

    X = np.array([[r[1], r[2]] for r in rows])
    Y = np.array([r[3] for r in rows])
    wf = np.zeros(2)
    for _ in range(8):
        pred = X @ wf
        g = (pred - Y) @ X / len(rows)
        wf -= g / 64.0
    nat = [wi * 1.0 / (1 << 20) for wi in w]  # micro/micro units cancel
    for a, b in zip(nat, wf):
        assert a * b > 0 or abs(b) < 1e-3, (nat, wf.tolist())
        if abs(b) > 1e-3:
            assert abs(a - b) / abs(b) < 0.25, (nat, wf.tolist())


def test_quality_probe_query_fits_and_scores(spark):
    """The r9 text_quality_classifier gate (integer linear probe
    distilling the heuristic quality score): the probe must actually
    FIT, not just replay — mean |score - target| under 0.1 natural
    units and >= 90% agreement with the target's own 0.5-threshold
    decision (measured r9 at sf0.01: MAE 0.042, agreement 100%).
    The bit-exact cross-engine training replay is the oracle's job;
    this pins the model quality the oracle can't see."""
    from prohap_spark.queries import queries

    df = queries()["text_quality_classifier"](spark, "/root/testdata/sf0.01")
    agg = df.agg(
        F.avg("abs_err_micro").alias("mae"),
        F.avg(
            (F.col("pred_good") == (F.col("t_micro") >= 500_000)).cast("int")
        ).alias("agree"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert agg["n"] > 0
    assert agg["mae"] < 100_000, agg["mae"]  # < 0.1 natural units
    assert agg["agree"] >= 0.9, agg["agree"]


def test_bloom_filter_no_false_negatives_and_fp_rate(spark):
    """The deterministic Bloom filter (r9): every inserted key MUST
    probe true (no false negatives — the structural guarantee), and
    the false-positive rate over non-inserted keys stays within 4x the
    analytic (1 - e^(-kn/m))^k bound for the test's k=4, m=2^17,
    n=2000 (analytic ~2.6e-6; the margin absorbs hash clustering)."""
    from prohap_spark.functions.sketches import bloom_build, bloom_probe_hits

    K, M = 4, 1 << 17
    inserted = spark.range(2000).select(
        F.concat(F.lit("key_"), F.col("id")).alias("gram")
    )
    bloom = bloom_build(inserted, "gram", K, M)
    assert bloom.count() <= (M // 62) + 1

    probe_in = inserted.select(F.col("gram"), F.lit(1).alias("k_id"))
    hits = bloom_probe_hits(probe_in, ["k_id"], "gram", bloom, K, M)
    assert hits.where(~F.col("bloom_hit")).count() == 0  # no false negatives

    absent = spark.range(20000).select(
        F.concat(F.lit("other_"), F.col("id")).alias("gram"), F.lit(1).alias("k_id")
    )
    fp = bloom_probe_hits(absent, ["k_id"], "gram", bloom, K, M).where(
        F.col("bloom_hit")
    ).count()
    import math

    analytic = (1 - math.exp(-K * 2000 / M)) ** K
    assert fp / 20000 <= max(4 * analytic, 3 / 20000), (fp, analytic)

    # r9-advice regression: DUPLICATE (key, gram) probe rows must not
    # manufacture false negatives (the old sum(bit_ok)==k gate saw
    # dup*k bits and reported false); the min-gate collapses dups to
    # one correct row per distinct (key, gram)
    dup_probe = probe_in.unionAll(probe_in).unionAll(probe_in)
    dup_hits = bloom_probe_hits(dup_probe, ["k_id"], "gram", bloom, K, M)
    assert dup_hits.count() == 2000  # one row per distinct gram
    assert dup_hits.where(~F.col("bloom_hit")).count() == 0


def test_cms_never_undercounts_and_is_exact_when_sparse(spark):
    """Count-min sketch (r9): estimates are >= exact for EVERY queried
    token (CMS never undercounts), and with far fewer distinct tokens
    than counters the estimate is exact for most tokens."""
    from prohap_spark.functions.sketches import cms_build, cms_estimate

    rows = [(f"tok{i % 50}",) for i in range(5000)]  # 50 tokens x 100
    toks = spark.createDataFrame(rows, ["tok"])
    cms = cms_build(toks, "tok", 4, 1024)
    assert cms.count() <= 4 * 1024
    cand = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = cms_estimate(cand, "tok", cms, 4, 1024).collect()
    assert len(est) == 50
    assert all(r["cms_est"] >= r["exact_cnt"] for r in est)
    exact_frac = sum(1 for r in est if r["cms_est"] == r["exact_cnt"]) / 50
    assert exact_frac >= 0.8, exact_frac


def test_bloom_word_semantics_match_duckdb(spark):
    """The 62-bit word contract: Spark's bloom words bit-or to the
    same BIGINTs DuckDB computes for the same keys (the portability
    the 62-bit choice exists for — DuckDB raises on << 62+)."""
    import duckdb

    from prohap_spark.functions.sketches import (
        BLOOM_WORD_BITS,
        _md5_window_sql,
        bloom_build,
    )

    K, M = 4, 1 << 17
    keys = [f"gram {i}" for i in range(97)]
    got = {
        r["word_idx"]: r["word"]
        for r in bloom_build(
            spark.createDataFrame([(k,) for k in keys], ["gram"]), "gram", K, M
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE g AS SELECT * FROM (VALUES "
        + ", ".join(f"({k!r})" for k in keys)
        + ") v(gram)"
    )
    pos = ", ".join(
        f"{_md5_window_sql('gram', 1 + 5 * j, 5)} % {M}" for j in range(K)
    )
    mask = f"(CAST(1 AS BIGINT) << CAST(p % {BLOOM_WORD_BITS} AS INT))"
    want = dict(
        con.execute(
            f"SELECT p // {BLOOM_WORD_BITS}, bit_or({mask}) FROM "
            f"(SELECT unnest([{pos}]) AS p FROM g) GROUP BY 1"
        ).fetchall()
    )
    assert got == want


def test_md5_window_hash_cross_engine_unicode_property(spark):
    """The md5-window integer device under EVERY deterministic sketch
    (HLL registers, Bloom positions, CMS indices, fingerprints) must
    agree bit-for-bit between Spark and DuckDB for arbitrary UNICODE
    input, not just the ASCII the synthetic corpus exercises — both
    engines hash the UTF-8 bytes of the string, and this is the pin.
    Hypothesis drives the value generation; one batched Spark job and
    one DuckDB query compare all windows at once."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from prohap_spark.functions.sketches import _md5_window_int, _md5_window_sql

    # windows used across the sketch family: HLL's 15-char value hash,
    # Bloom's 4x5-char draws, CMS's 4x4-char draws
    WINDOWS = [(1, 15), (1, 5), (6, 5), (11, 5), (16, 5), (1, 4), (5, 4), (9, 4), (13, 4)]

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",),  # no lone surrogates
                    max_codepoint=0x10FFFF,
                ),
                min_size=0,
                max_size=40,
            ),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    def check(values):
        df = spark.createDataFrame([(v,) for v in values], ["v"])
        got = df.select(
            "v",
            *[
                _md5_window_int(F.col("v"), s, w).alias(f"h_{s}_{w}")
                for s, w in WINDOWS
            ],
        ).collect()
        con = duckdb.connect()
        con.execute("CREATE TABLE t (v VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
        sel = ", ".join(
            f"{_md5_window_sql('v', s, w)} AS h_{s}_{w}" for s, w in WINDOWS
        )
        want = {r[0]: r[1:] for r in con.execute(f"SELECT v, {sel} FROM t").fetchall()}
        for r in got:
            assert tuple(r[f"h_{s}_{w}"] for s, w in WINDOWS) == want[r["v"]], r["v"]

    check()


def test_jaccard_prefix_strategy_equals_block_quadratic(spark):
    """The AllPairs prefix-filtered set-similarity join must return
    EXACTLY the block-quadratic result set (the prefix theorem: if
    J(A,B) >= t, the rarest-first prefixes of length
    |X| - ceil(t|X|) + 1 share a gram — candidates are a superset,
    the exact verify closes the gap). Pinned at two thresholds, the
    permissive one the registered query uses and a production-tight
    one where the filter actually prunes."""
    from prohap_spark.operators.dedup import jaccard_pairs
    from prohap_spark.queries.registry import table

    d = table(spark, "/root/testdata/sf0.01", "documents")
    for t in (0.30, 0.75):
        got = {
            (r["lang"], r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in jaccard_pairs(
                d, "doc_id", "text", ["lang"], t, 2, strategy="prefix"
            ).collect()
        }
        want = {
            (r["lang"], r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in jaccard_pairs(
                d, "doc_id", "text", ["lang"], t, 2, strategy="block"
            ).collect()
        }
        assert got == want, (t, len(got), len(want))


def test_cdc_rolling_kernel_properties(spark):
    """O(n) rolling-CDC variant (r11 — the cdc_chunk_table docstring's
    named follow-up): (a) the incremental Rabin recurrence equals the
    from-scratch window polynomial at EVERY position, so the O(1)
    update provably makes the same boundary decisions a naive
    per-window rescan would; (b) shift resistance — head insertions
    preserve most chunk identities while fixed windows lose ~all;
    (c) size bounds + concatenation identity; (d) partition
    invariance; (e) cdc_dedup_stats(strategy='rolling') flags exactly
    the cross-document duplicated chunks."""
    import random as _random
    import zlib

    from prohap_spark.operators.dedup import (
        cdc_chunk_table_rolling,
        cdc_dedup_stats,
    )

    # (a) incremental == from-scratch, pure python replica of the
    # kernel's recurrence
    rng = _random.Random(7)
    B, M, W = 1_000_003, (1 << 61) - 1, 3
    bw = pow(B, W, M)
    xs = [zlib.crc32(f"tok{rng.randrange(500)}".encode()) + 1 for _ in range(300)]
    h = 0
    for i in range(len(xs)):
        h = (h * B + xs[i]) % M
        if i >= W:
            h = (h - xs[i - W] * bw) % M
        if i + 1 >= W:
            fresh = 0
            for j in range(i - W + 1, i + 1):
                fresh = (fresh * B + xs[j]) % M
            assert h == fresh, i

    # (b)-(e) mirror the column variant's property suite
    vocab = [f"tok{v}" for v in range(500)]
    body = " ".join(rng.choice(vocab) for _ in range(600))
    shifted = "inserted header words here " + body
    df = spark.createDataFrame(
        [(1, body), (2, shifted)], "doc_id long, text string"
    )
    ch = cdc_chunk_table_rolling(df, "doc_id", "text", min_words=8, max_words=64)
    rows = ch.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"]))
    c1 = {c for _, c in by_doc[1]}
    c2 = {c for _, c in by_doc[2]}
    cdc_shared = len(c1 & c2) / len(c1)

    def fixed(text):
        w = text.lower().split()
        return {" ".join(w[i : i + 16]) for i in range(0, len(w), 16)}

    fixed_shared = len(fixed(body) & fixed(shifted)) / len(fixed(body))
    assert cdc_shared >= 0.7, (cdc_shared, len(c1), len(c2))
    assert fixed_shared <= 0.1, fixed_shared

    # (c) bounds + concat identity (chunk_idx order reassembles the
    # doc). The hard bound is max_words for EVERY chunk; chunks below
    # min_words are legal only as interval tails — a forced max-cut's
    # remainder (e.g. a 71-word stretch splits 64+7) or the document
    # tail — so the sub-min fraction must stay small, not zero.
    for doc, chunks in by_doc.items():
        ordered = [c for _, c in sorted(chunks)]
        for c in ordered:
            assert 1 <= len(c.split()) <= 64, (doc, len(c.split()))
        small = sum(1 for c in ordered if len(c.split()) < 8)
        assert small <= max(1, len(ordered) // 4), (doc, small, len(ordered))
    src = {1: body, 2: shifted}
    for doc, chunks in by_doc.items():
        joined = " ".join(c for _, c in sorted(chunks))
        assert joined == " ".join(src[doc].lower().split())

    # (d) partition invariance
    re16 = {
        (r["doc_id"], r["chunk_idx"], r["chunk_hash"])
        for r in cdc_chunk_table_rolling(
            df.repartition(16), "doc_id", "text", min_words=8, max_words=64
        ).collect()
    }
    assert re16 == {(r["doc_id"], r["chunk_idx"], r["chunk_hash"]) for r in rows}

    # (e) rolling-strategy dup stats
    tail = " ".join(body.split()[-200:])
    df3 = spark.createDataFrame(
        [(1, body), (3, "completely fresh opening " * 10 + tail)],
        "doc_id long, text string",
    )
    stats = {
        r["doc_id"]: r
        for r in cdc_dedup_stats(
            df3, "doc_id", "text", strategy="rolling"
        ).collect()
    }
    assert stats[3]["n_dup_chunks"] > 0
    assert stats[1]["n_dup_chunks"] > 0
    assert stats[3]["n_dup_chunks"] < stats[3]["n_chunks"]


def test_containment_join_matched_volume_scales_linearly(spark):
    """The J9 scale claim, pinned at test scale the way the jaccard
    prefix-candidate growth was pinned in r10
    (tools/containment_scale_probe.py measures walls at sf0.1): under
    the probe's replica model — replica-prefixed text, probes cut from
    the prefixed text, so a probe can only match its OWN replica —
    matched volume (output rows) must grow LINEARLY along each axis:
    R x corpus with probes fixed == R x the 1x output; R x probes with
    corpus fixed likewise. Verbatim replication would multiply matches
    quadratically — that is a different workload, and this test pins
    that the operator itself adds no cross-replica matches that would
    bend the linear model."""
    import random as _random

    from prohap_spark.operators.containment import containment_join

    rng = _random.Random(23)
    vocab = [f"w{v}" for v in range(50)]
    # shared per-template openings so probes (prefix cuts) actually
    # contain-match sibling documents; random tails keep docs distinct
    base_rows = [
        (
            d,
            f"template{d % 5} shared opening phrase "
            + " ".join(rng.choice(vocab) for _ in range(30)),
        )
        for d in range(40)
    ]

    def replicated(r_count):
        rows = [
            (r * 1000 + d, f"R{r}|{text}")
            for r in range(r_count)
            for d, text in base_rows
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def probes_of(docs):
        return docs.where(F.col("doc_id") % 10 == 0).select(
            F.col("doc_id").alias("probe_id"),
            F.substring("text", 1, 20).alias("probe"),
        )

    def volume(corpus_r, probe_r):
        return containment_join(
            replicated(corpus_r),
            probes_of(replicated(probe_r)),
            "text",
            "probe",
            extra_cond=F.col("doc_id") != F.col("probe_id"),
        ).count()

    v11 = volume(1, 1)
    assert v11 > 0
    # corpus axis: every replica contributes the 1x matches for the
    # replica-0 probes... only replica 0's probes exist, and they
    # match only replica-0 docs — volume stays EXACTLY v11
    assert volume(4, 1) == v11
    # probe axis: each replica's probes match their own replica's
    # (absent) docs — only replica 0 has docs, so again exactly v11
    assert volume(1, 4) == v11
    # both axes: R independent copies of the 1x workload
    assert volume(4, 4) == 4 * v11


def test_qhist_merge_algebra_and_quantile_guarantee(spark):
    """Quantile-histogram sketch (r11): (a) shard-built histograms
    merge losslessly — qhist_merge over 3 disjoint shards equals the
    single-pass build as exact integer equality; (b) the quantile
    guarantee — for every group and q, the sketch's bucket equals the
    bucket CONTAINING the exact discrete q-quantile (randomized over
    groups/values, the provable identity the registered gate also
    hashes); (c) out-of-range values clamp to the edge buckets."""
    import math
    import random as _random

    from prohap_spark.functions.sketches import (
        qhist_build,
        qhist_merge,
        qhist_quantiles,
    )

    rng = _random.Random(29)
    rows = [
        (f"g{r % 4}", rng.uniform(-50.0, 1100.0))  # some outside [0, 1000)
        for r in range(3000)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    lo, hi, n = 0.0, 1000.0, 64

    # (a) merge == single build
    full = {
        (r["g"], r["__qb"]): r["__qn"]
        for r in qhist_build(df, ["g"], "v", lo, hi, n).collect()
    }
    shards = [
        spark.createDataFrame(rows[i::3], "g string, v double") for i in range(3)
    ]
    merged = {
        (r["g"], r["__qb"]): r["__qn"]
        for r in qhist_merge(
            *[qhist_build(s, ["g"], "v", lo, hi, n) for s in shards]
        ).collect()
    }
    assert merged == full

    # (b) sketch bucket == bucket of the exact discrete quantile
    hist = qhist_build(df, ["g"], "v", lo, hi, n)
    got = {
        (r["g"], r["q"]): (r["bucket"], r["n_rows"])
        for r in qhist_quantiles(hist, ["g"], [0.25, 0.5, 0.9]).collect()
    }
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    width = (hi - lo) / n

    def bucket_of(v):
        return min(max(math.floor((v - lo) * n / (hi - lo)), 0), n - 1)

    for g, vs in by_g.items():
        vs.sort()
        for q in (0.25, 0.5, 0.9):
            target = math.ceil(q * len(vs))
            exact_v = vs[target - 1]
            b, n_rows = got[(g, q)]
            assert n_rows == len(vs)
            assert b == bucket_of(exact_v), (g, q, b, exact_v)

    # (c) clamping: every bucket index within [0, n)
    assert all(0 <= qb < n for (_, qb) in full)
    assert any(qb == 0 for (_, qb) in full)  # negatives clamped down
    assert any(qb == n - 1 for (_, qb) in full)  # overflow clamped up


def test_hll_intersect_estimate_overlap_bands(spark):
    """HLL set algebra (r11): the inclusion-exclusion overlap estimate
    from two register ARTIFACTS — (a) a planted 50% overlap lands
    within the compounded error band of the three m=64 estimates;
    (b) disjoint sets estimate at/near zero (the clamp keeps the
    negative tail honest); (c) identical sets estimate ~their own
    cardinality and est_union == est_a == est_b EXACTLY (merging a
    register table with itself is idempotent)."""
    from prohap_spark.functions.sketches import (
        hll_intersect_estimate,
        hll_registers,
    )

    def regs(lo, hi):
        df = spark.range(lo, hi).select(
            F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
        )
        return hll_registers(df, ["g"], "v")

    # (a) |A|=2000, |B|=2000, |A∩B|=1000
    out = hll_intersect_estimate(regs(0, 2000), regs(1000, 3000), ["g"]).collect()[0]
    # each estimate carries ~13% band; inclusion-exclusion compounds to
    # a few hundred absolute here — accept a generous envelope
    assert 200 <= out["est_intersect"] <= 1800, out
    assert 1400 <= out["est_a"] <= 2600

    # (b) disjoint
    out2 = hll_intersect_estimate(regs(0, 2000), regs(50000, 52000), ["g"]).collect()[0]
    assert out2["est_intersect"] <= 700, out2

    # (c) identical: union of a sketch with itself is itself
    r = regs(0, 1500)
    out3 = hll_intersect_estimate(r, r, ["g"]).collect()[0]
    assert out3["est_a"] == out3["est_b"] == out3["est_union"]
    assert out3["est_intersect"] == out3["est_a"]


def test_kmv_bottom_k_merge_sample_and_estimate(spark):
    """KMV bottom-k sketch (r11): (a) shard merge EXACTLY equals the
    single-pass build (min-k semilattice — not an approximation);
    (b) the kept values are a value-blind uniform sample: two
    disjoint halves of a shuffled domain land in the sample in
    near-equal proportion; (c) the (k-1)/h_(k) distinct estimate
    lands within its ~1/sqrt(k-2) band, and small groups are EXACT;
    (d) duplicates don't perturb the sketch (distinct semantics)."""
    from prohap_spark.functions.sketches import (
        kmv_bottom_k,
        kmv_estimate,
        kmv_merge,
    )

    k = 64
    rows = [("g", f"v{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, v string")

    full = kmv_bottom_k(df, ["g"], "v", k=k)
    full_set = {(r["__kmv_rank"], r["__kmv_hash"]) for r in full.collect()}

    # (a) merge == single build, exact
    shards = [
        spark.createDataFrame(rows[i::3], "g string, v string") for i in range(3)
    ]
    merged = kmv_merge(
        *[kmv_bottom_k(s, ["g"], "v", k=k) for s in shards], k=k
    )
    assert {(r["__kmv_rank"], r["__kmv_hash"]) for r in merged.collect()} == full_set

    # (b) uniform: values v0..v2499 vs v2500..v4999 split the sample
    # roughly evenly (binomial k=64, p=.5 — 5 sigma ~ 20)
    vals = [r["__kmv_value"] for r in full.collect()]
    low = sum(1 for v in vals if int(v[1:]) < 2500)
    assert 12 <= low <= 52, low

    # (c) estimate bands
    est = kmv_estimate(full, ["g"], k=k).collect()[0]
    assert not est["kmv_exact"]
    assert abs(est["kmv_est"] - 5000) <= 5000 * 5 / (k - 2) ** 0.5, est
    small = kmv_estimate(
        kmv_bottom_k(
            spark.createDataFrame(rows[:30], "g string, v string"), ["g"], "v", k=k
        ),
        ["g"],
        k=k,
    ).collect()[0]
    assert small["kmv_exact"] and small["kmv_est"] == 30

    # (d) duplicate-blind
    dup = kmv_bottom_k(df.unionAll(df), ["g"], "v", k=k)
    assert {(r["__kmv_rank"], r["__kmv_hash"]) for r in dup.collect()} == full_set


def test_exact_quantile_twopass_equals_sort(spark):
    """Two-pass exact quantile (r11): histogram-prune + in-bucket rank
    must equal the single-pass sorted answer EXACTLY — randomized over
    groups, q values, duplicates, and values OUTSIDE the histogram
    range (clamped buckets still rank correctly; only pruning
    efficiency degrades)."""
    import math
    import random as _random

    from prohap_spark.functions.sketches import exact_quantile_twopass

    rng = _random.Random(31)
    rows = []
    for g in range(4):
        for _ in range(1500):
            v = rng.choice(
                [rng.uniform(-20, 1100), float(rng.randrange(0, 50))]  # dups + out-of-range
            )
            rows.append((f"g{g}", v))
    df = spark.createDataFrame(rows, "g string, v double")
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for q in (0.1, 0.5, 0.9):
        got = {
            r["g"]: (r["exact_v"], r["n_rows"])
            for r in exact_quantile_twopass(
                df, ["g"], "v", q, lo=0.0, hi=1000.0, n_buckets=64
            ).collect()
        }
        assert set(got) == set(by_g)
        for g, vs in by_g.items():
            vs_sorted = sorted(vs)
            want = vs_sorted[math.ceil(q * len(vs)) - 1]
            assert got[g] == (want, len(vs)), (g, q, got[g], want)


def test_weighted_bottom_k_properties(spark):
    """Deterministic weighted sampling (r11): (a) reproducible across
    repartitioning (content-keyed md5 draw, no rand()); (b) shard
    merge == single draw (top-k-by-key semilattice, via re-drawing on
    the union of shard samples); (c) the A-Res inclusion property —
    across many independent groups, heavy items (10x weight) appear
    in the k-sample far more often than light ones; (d) zero/negative
    weights never sampled."""
    from prohap_spark.operators.sampling import weighted_bottom_k

    rows = []
    for g in range(60):  # 60 independent draws
        for i in range(40):
            w = 10.0 if i < 8 else 1.0  # 8 heavy, 32 light
            rows.append((f"g{g}", g * 1000 + i, w))
    rows.append(("g0", 99999, 0.0))  # never sampled
    df = spark.createDataFrame(rows, "g string, id long, w double")

    out = weighted_bottom_k(df, ["g"], "id", "w", k=8).collect()
    assert all(r["w"] > 0 for r in out)
    got = {(r["g"], r["id"], r["sample_rank"]) for r in out}

    # (a) partition invariance
    re16 = {
        (r["g"], r["id"], r["sample_rank"])
        for r in weighted_bottom_k(df.repartition(16), ["g"], "id", "w", k=8).collect()
    }
    assert re16 == got

    # (b) shard-merge equality: drawing over the union of per-shard
    # k-samples equals the full draw (keys are content-determined)
    shards = [
        spark.createDataFrame(rows[i::2], "g string, id long, w double")
        for i in range(2)
    ]
    shard_samples = [
        weighted_bottom_k(s, ["g"], "id", "w", k=8) for s in shards
    ]
    pooled = shard_samples[0].unionByName(shard_samples[1]).select("g", "id", "w")
    remerged = {
        (r["g"], r["id"], r["sample_rank"])
        for r in weighted_bottom_k(pooled, ["g"], "id", "w", k=8).collect()
    }
    assert remerged == got

    # (c) heavy items (20% of population, 10x weight) dominate the
    # sample: expected A-Res share far above the uniform 20%
    n_heavy = sum(1 for (_, i, _r) in got if i % 1000 < 8)
    share = n_heavy / len(got)
    assert share >= 0.45, share  # uniform would sit ~0.20


def test_bloom_semi_join_equals_exact_semi_join(spark):
    """bloom_semi_join == the plain left-semi join, row for row, on
    both probe paths (literal words and broadcast word-table), with a
    deliberately tight filter so false positives genuinely flow
    through the prefilter and the exact phase removes them — no false
    negatives is the structural Bloom guarantee."""
    from prohap_spark.operators.bloom_join import (
        bloom_semi_join,
        bloom_semi_join_stats,
    )

    # fact keys 0..999 x 3 duplicates each; dim keeps multiples of 7
    fact = spark.createDataFrame(
        [(k % 1000, i) for i, k in enumerate(range(3000))], "key long, payload long"
    )
    dim = spark.createDataFrame(
        [(k,) for k in range(0, 1000, 7)], "dkey long"
    )
    expect = {
        (r["key"], r["payload"])
        for r in fact.join(
            dim, fact["key"] == dim["dkey"], "left_semi"
        ).collect()
    }
    # 143 dim keys (multiples of 7 below 1000) x 3 duplicate fact rows
    assert len(expect) == 143 * 3
    # m=256 bits for 143 keys*4 hashes => heavily loaded => real FPs
    for collect_filter in (True, False):
        got = {
            (r["key"], r["payload"])
            for r in bloom_semi_join(
                fact, dim, "key", "dkey", k=4, m_bits=256,
                collect_filter=collect_filter,
            ).collect()
        }
        assert got == expect, f"collect_filter={collect_filter}"

    # r14 runtime-filter family: xxh64 build+probe (native key dtypes,
    # no string cast) must return the identical row set — the exact
    # join erases the prefilter's (different) FP set. Same tight m so
    # the xxh FP path is genuinely exercised too.
    got_xxh = {
        (r["key"], r["payload"])
        for r in bloom_semi_join(
            fact, dim, "key", "dkey", k=4, m_bits=256, hash_family="xxh64"
        ).collect()
    }
    assert got_xxh == expect

    # family must be threaded consistently: an xxh probe against
    # md5-built words is a parameter mismatch the API refuses at the
    # collect_filter=False seam
    import pytest as _pytest

    with _pytest.raises(ValueError, match="md5-window only"):
        bloom_semi_join(
            fact, dim, "key", "dkey", k=4, m_bits=256,
            collect_filter=False, hash_family="xxh64",
        )

    st = bloom_semi_join_stats(fact, dim, "key", "dkey", k=4, m_bits=256).collect()[0]
    assert st["n_fact"] == 3000
    assert st["n_exact_pass"] == len(expect)
    # no false negatives: every true match bloom-passes
    assert st["n_bloom_pass"] >= st["n_exact_pass"]
    # the tight filter must actually produce FPs for this test to mean
    # anything — and they must be exactly the bloom/exact gap
    assert st["n_false_positive"] == st["n_bloom_pass"] - st["n_exact_pass"]
    assert st["n_false_positive"] > 0


def test_zorder_key_matches_python_reference(spark):
    """zorder_key's unrolled bit arithmetic == the textbook Morton
    interleave, over the full 2-dim corner/edge grid."""
    from prohap_spark.operators.layout import zorder_key

    def z_ref(x, y, bits=8):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    vals = [0, 1, 2, 3, 127, 128, 254, 255]
    df = spark.createDataFrame(
        [(x, y) for x in vals for y in vals], "xq long, yq long"
    ).withColumn("z", zorder_key(["xq", "yq"], 8))
    for r in df.collect():
        assert r["z"] == z_ref(r["xq"], r["yq"]), (r["xq"], r["yq"])


def test_zorder_clustered_write_files_are_tiles(spark, tmp_path):
    """write_zorder_clustered: every written file's min/max box on
    EACH clustered dimension is a strict sub-range of the domain —
    the property parquet footer pruning needs. A single-column sort
    of the same data provably fails this on the other column."""
    import numpy as np

    from prohap_spark.operators.layout import write_zorder_clustered

    rng = np.random.default_rng(7)
    n = 20_000
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(
            rng.integers(0, 100_000, n), rng.integers(0, 100_000, n)
        )],
        "x long, y long",
    )
    def file_spans(path):
        back = spark.read.parquet(path)
        per_file = (
            back.groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("x").alias("xmn"), F.max("x").alias("xmx"),
                F.min("y").alias("ymn"), F.max("y").alias("ymx"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        assert sum(r["n"] for r in per_file) == n
        xs = [(r["xmx"] - r["xmn"]) / 100_000 for r in per_file]
        ys = [(r["ymx"] - r["ymn"]) / 100_000 for r in per_file]
        return len(per_file), sum(xs) / len(xs), sum(ys) / len(ys)

    zpath = str(tmp_path / "zorder")
    write_zorder_clustered(df, zpath, ["x", "y"], bits=8, n_files=16)
    nf, zx, zy = file_spans(zpath)
    assert nf >= 8  # range partitioner actually spread it

    # baseline: the same file budget sorted on x ONLY
    lpath = str(tmp_path / "linear")
    (
        df.repartitionByRange(16, "x").sortWithinPartitions("x")
        .write.mode("overwrite").parquet(lpath)
    )
    _, lx, ly = file_spans(lpath)

    # the linear layout is perfectly local on x and hopeless on y
    assert lx <= 0.15 and ly >= 0.90, (lx, ly)
    # z-order: BOTH dims' mean spans well below the domain (a file
    # straddling a major z-boundary may individually span a dim — the
    # mean is the pruning-relevant statistic), and the y dimension is
    # dramatically better than the single-sort layout's
    assert zx <= 0.60 and zy <= 0.60, (zx, zy)
    assert zy <= 0.6 * ly, (zy, ly)


def test_kmv_intersect_estimate(spark):
    """KMV overlap estimator (theta-sketch read): exact when the union
    sketch holds everything; within a binomial band on large sets; and
    invariant to building the input sketches from shards (kmv_merge
    exactness carries through the intersection read)."""
    from prohap_spark.functions.sketches import (
        kmv_bottom_k,
        kmv_intersect_estimate,
        kmv_merge,
    )

    # exact regime: |A∪B| = 40 < k=64
    a = spark.createDataFrame([("g", i) for i in range(30)], "g string, v long")
    b = spark.createDataFrame([("g", i) for i in range(20, 40)], "g string, v long")
    ska = kmv_bottom_k(a, ["g"], "v", k=64)
    skb = kmv_bottom_k(b, ["g"], "v", k=64)
    r = kmv_intersect_estimate(ska, skb, ["g"], k=64).collect()[0]
    assert r["kmv_intersect_est"] == 10  # values 20..29
    assert r["kmv_union_est"] == 40

    # estimator regime: |A| = |B| = 4000, overlap 2000, k = 256
    big_a = spark.createDataFrame([("g", i) for i in range(4000)], "g string, v long")
    big_b = spark.createDataFrame(
        [("g", i) for i in range(2000, 6000)], "g string, v long"
    )
    sa = kmv_bottom_k(big_a, ["g"], "v", k=256)
    sb = kmv_bottom_k(big_b, ["g"], "v", k=256)
    est = kmv_intersect_estimate(sa, sb, ["g"], k=256).collect()[0]
    # truth: union 6000, intersection 2000 (fraction 1/3); k=256 gives
    # ~±3 sigma band of fraction ±0.088 -> intersect in [1300, 2800]
    # (plus union-estimate error ~6%); generous deterministic band:
    assert 1100 <= est["kmv_intersect_est"] <= 3000, est
    assert 5000 <= est["kmv_union_est"] <= 7200, est

    # shard invariance: sketches from two shards, merged, give the
    # IDENTICAL read (merge == single build, so every downstream
    # number matches bit for bit)
    sh = [
        kmv_bottom_k(big_a.where(F.col("v") % 2 == p), ["g"], "v", k=256)
        for p in (0, 1)
    ]
    sa2 = kmv_merge(*sh, k=256)
    est2 = kmv_intersect_estimate(sa2, sb, ["g"], k=256).collect()[0]
    assert est2 == est


def test_bloom_index_artifact_lifecycle(spark, tmp_path):
    """Persisted runtime-filter artifact: (a) index-backed prefilter
    admits every true match (no false negatives through the artifact
    path); (b) incremental build — two batches merged via bloom_merge
    and rewritten — equals the direct build word for word; (c) a
    (k, m_bits) parameter mismatch on read fails loud; (d) a torn
    write (deleted part-file) fails loud."""
    import glob
    import os

    from prohap_spark.functions.sketches import bloom_build, bloom_merge
    from prohap_spark.operators.bloom_join import (
        bloom_prefilter_from_index,
        read_bloom_index,
        write_bloom_index,
    )
    from prohap_spark.operators.dedup import write_dedup_index

    dim = spark.createDataFrame([(k,) for k in range(0, 500, 3)], "dkey long")
    fact = spark.createDataFrame([(k, k * 10) for k in range(500)], "key long, p long")
    path = str(tmp_path / "bloomidx")
    write_bloom_index(dim, "dkey", path, k=4, m_bits=1 << 12)

    kept = {
        r["key"]
        for r in bloom_prefilter_from_index(
            spark, fact, "key", path, k=4, m_bits=1 << 12
        ).collect()
    }
    true_keys = {k for k in range(0, 500, 3)}
    assert true_keys <= kept  # no false negatives

    # (b) incremental == direct, word for word
    halves = [
        dim.where(F.col("dkey") % 2 == p).select(
            F.col("dkey").cast("string").alias("__bk")
        )
        for p in (0, 1)
    ]
    merged = bloom_merge(
        bloom_build(halves[0], "__bk", 4, 1 << 12),
        bloom_build(halves[1], "__bk", 4, 1 << 12),
    )
    inc_path = str(tmp_path / "bloomidx_inc")
    os.makedirs(inc_path)
    write_dedup_index(merged, f"{inc_path}/words")
    with open(f"{inc_path}/meta.json", "w") as f:
        import json

        json.dump({"k": 4, "m_bits": 1 << 12, "dim_key": "dkey"}, f)
    direct = {
        (r["word_idx"], r["word"])
        for r in read_bloom_index(spark, path, 4, 1 << 12).collect()
    }
    incremental = {
        (r["word_idx"], r["word"])
        for r in read_bloom_index(spark, inc_path, 4, 1 << 12).collect()
    }
    assert incremental == direct

    # (c) parameter mismatch fails loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different bit positions"):
        read_bloom_index(spark, path, 4, 1 << 13)

    # (d) torn write fails loud: with multiple part-files the manifest
    # row-count/checksum check trips; when the tear removed the ONLY
    # part, the read itself errors (no files) — loud either way, never
    # a silent subset
    parts = glob.glob(f"{path}/words/part-*.parquet")
    assert parts
    os.remove(parts[0])
    with _pytest.raises(Exception):
        read_bloom_index(spark, path, 4, 1 << 12).collect()


def test_cms_join_size_estimate(spark):
    """CMS inner-product join-size estimation: one-sided (never below
    the true equi-join cardinality), tight when w >> distinct keys,
    exactly 0 for disjoint sides, and shard-mergeable through
    cms_merge before the read."""
    from prohap_spark.functions.sketches import (
        cms_build,
        cms_join_size_estimate,
        cms_merge,
    )

    d, w = 4, 1 << 12
    # side A: keys 0..199, key i appears (i % 3) + 1 times
    a_rows = [(str(i),) for i in range(200) for _ in range((i % 3) + 1)]
    # side B: keys 100..299, key i appears (i % 2) + 1 times
    b_rows = [(str(i),) for i in range(100, 300) for _ in range((i % 2) + 1)]
    A = spark.createDataFrame(a_rows, "k string")
    B = spark.createDataFrame(b_rows, "k string")
    truth = sum(
        ((i % 3) + 1) * ((i % 2) + 1) for i in range(100, 200)
    )  # shared keys 100..199
    ca = cms_build(A, "k", d, w)
    cb = cms_build(B, "k", d, w)
    est = cms_join_size_estimate(ca, cb).collect()[0]["join_size_est"]
    assert est >= truth  # one-sided
    assert est <= truth + 40, (est, truth)  # tight at this load factor

    # disjoint sides -> the zero-dot rows must reach the min
    C = spark.createDataFrame([(str(i),) for i in range(5000, 5100)], "k string")
    est0 = cms_join_size_estimate(ca, cms_build(C, "k", d, w)).collect()[0][
        "join_size_est"
    ]
    assert est0 == 0 or est0 <= 5, est0  # 0 barring a rare md5 cell collision

    # shard-merge: A built from two halves, merged, same estimate
    halves = [
        cms_build(A.where(F.crc32("k") % 2 == p), "k", d, w) for p in (0, 1)
    ]
    est_m = cms_join_size_estimate(cms_merge(*halves), cb).collect()[0][
        "join_size_est"
    ]
    assert est_m == est


def test_zorder_key_three_columns(spark):
    """The Morton interleave generalizes to k=3: bit i of column j
    lands at position i*3 + j — checked against a python reference on
    a value grid."""
    from prohap_spark.operators.layout import zorder_key

    def z3(x, y, z, bits=4):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (3 * i)
            out |= ((y >> i) & 1) << (3 * i + 1)
            out |= ((z >> i) & 1) << (3 * i + 2)
        return out

    vals = [0, 1, 7, 8, 15]
    df = spark.createDataFrame(
        [(a, b, c) for a in vals for b in vals for c in vals],
        "a long, b long, c long",
    ).withColumn("z", zorder_key(["a", "b", "c"], 4))
    for r in df.collect():
        assert r["z"] == z3(r["a"], r["b"], r["c"]), (r["a"], r["b"], r["c"])


def test_resample_locf_literal_fixture(spark):
    """Gap-fill semantics on a hand-derived fixture: last observation
    per bucket (tiebreak respected), empty buckets carried forward
    with is_filled=1, the grid spans exactly first..last observed
    bucket per group."""
    import datetime as dt

    from prohap_spark.operators.resample import resample_locf

    def t(day, hour=0):
        return dt.datetime(2024, 1, day, hour, 0, 0)

    rows = [
        # group A: obs day1 (two in-bucket, later wins), gap day2-3, obs day4
        ("A", t(1, 2), 1, 10.0),
        ("A", t(1, 9), 2, 11.0),
        ("A", t(4), 3, 40.0),
        # group B: single observation -> single row, no fill
        ("B", t(2), 4, 7.5),
        # group A tiebreak: same ts, higher event_id wins
        ("A", t(1, 9), 9, 12.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, event_id long, value double")
    out = {
        (r["g"], r["bucket"]): (r["value"], r["is_filled"])
        for r in resample_locf(
            df, ["g"], "ts", "value", 86400, tiebreak_cols=["event_id"]
        ).collect()
    }
    base_a = next(b for (g, b) in out if g == "A")
    assert out[("A", base_a)] == (12.0, 0)        # day1: latest ts, max id
    assert out[("A", base_a + 1)] == (12.0, 1)    # day2 carried
    assert out[("A", base_a + 2)] == (12.0, 1)    # day3 carried
    assert out[("A", base_a + 3)] == (40.0, 0)    # day4 observed
    assert len([1 for (g, _) in out if g == "A"]) == 4
    assert len([1 for (g, _) in out if g == "B"]) == 1
    (bb,) = [b for (g, b) in out if g == "B"]
    assert out[("B", bb)] == (7.5, 0)


def test_zorder_tile_span_shrinks_with_tile_count(spark):
    """The z-curve scaling law the 100 TB story rests on: quadrupling
    the tile (file) budget halves each dimension's mean tile span, so
    pruning selectivity keeps improving as the table is split finer —
    measured on the deterministic tile model, no files involved."""
    import numpy as np

    from prohap_spark.operators.layout import zorder_tile_stats

    rng = np.random.default_rng(11)
    n = 30_000
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(
            rng.integers(0, 100_000, n), rng.integers(0, 100_000, n)
        )],
        "x long, y long",
    )

    def mean_spans(n_tiles):
        rows = zorder_tile_stats(df, ["x", "y"], bits=8, n_tiles=n_tiles).collect()
        xs = [r["x_max"] - r["x_min"] for r in rows]
        ys = [r["y_max"] - r["y_min"] for r in rows]
        return sum(xs) / len(xs), sum(ys) / len(ys), len(rows)

    x64, y64, n64 = mean_spans(64)
    x1k, y1k, n1k = mean_spans(1024)
    assert n64 <= 64 and n1k <= 1024
    # 16x more tiles => ~4x smaller spans per dim; assert at least 2.5x
    assert x1k * 2.5 <= x64, (x1k, x64)
    assert y1k * 2.5 <= y64, (y1k, y64)


def test_resample_locf_random_vs_pandas_reference(spark):
    """Randomized parity: resample_locf over 60 groups x random sparse
    timestamps equals an independent pandas resample/ffill derivation
    row for row."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from prohap_spark.operators.resample import resample_locf

    rng = np.random.default_rng(3)
    rows = []
    eid = 0
    base = dt.datetime(2024, 3, 1)
    for g in range(60):
        n = int(rng.integers(1, 12))
        for _ in range(n):
            ts = base + dt.timedelta(
                days=int(rng.integers(0, 20)), seconds=int(rng.integers(0, 86400))
            )
            rows.append((f"g{g}", ts, eid, float(rng.integers(0, 1000))))
            eid += 1
    df = spark.createDataFrame(rows, "g string, ts timestamp, event_id long, value double")
    got = {
        (r["g"], r["bucket"]): (r["value"], r["is_filled"])
        for r in resample_locf(
            df, ["g"], "ts", "value", 86400, tiebreak_cols=["event_id"]
        ).collect()
    }

    pdf = pd.DataFrame(rows, columns=["g", "ts", "event_id", "value"])
    pdf["bucket"] = (pdf["ts"].astype("int64") // 10**9) // 86400
    expect = {}
    for g, grp in pdf.groupby("g"):
        last = grp.sort_values(["bucket", "ts", "event_id"]).groupby("bucket").last()
        b0, b1 = int(last.index.min()), int(last.index.max())
        obs = last["value"].to_dict()
        cur = None
        for b in range(b0, b1 + 1):
            if b in obs:
                cur = obs[b]
                expect[(g, b)] = (cur, 0)
            else:
                expect[(g, b)] = (cur, 1)
    assert got == expect


def test_quantize_equidepth_balances_skew(spark):
    """Equi-depth quantizer on continuously skewed data (u^3 power
    law — resolvable by the linear histogram; heavier low-end density
    wants a log transform first, the documented resolution limit): all
    16 levels populated within ~2x of the fair share, while the
    min/max quantizer dumps ~40% of rows into level 0 — the skewed
    z-order dimension fix. A separate zipf check pins the documented
    tie semantics: an unsplittable tie mass occupies one level and the
    REST still spreads."""
    from collections import Counter

    import numpy as np

    from prohap_spark.operators.layout import quantize_equidepth, quantize_minmax

    rng = np.random.default_rng(5)
    vals = (rng.random(20_000) ** 3 * 100_000).astype(int)
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")

    eq = Counter(
        r["lvl"] for r in quantize_equidepth(
            df, "x", 4, "lvl", 0.0, 100_001.0, n_hist=4096
        ).collect()
    )
    mm = Counter(
        r["lvl"] for r in quantize_minmax(df, "x", 4, "lvl").collect()
    )
    assert sum(eq.values()) == 20_000
    # minmax: P(x < domain/16) = (1/16)^(1/3) ~ 0.40 -> level 0 hogs
    assert mm[0] >= 0.35 * 20_000, mm
    # equi-depth: all 16 levels live, each within [fair/2, 2*fair]
    fair = 20_000 / 16
    assert len(eq) == 16, eq
    assert all(fair / 2 <= c <= 2 * fair for c in eq.values()), eq

    # tie semantics: zipf(1.3) puts ~2/3 of rows at tiny tied values
    # (one fine bucket) -> that mass is ONE level by construction,
    # starting at level 0 (cum-before), and the rest still spreads
    zvals = np.minimum(rng.zipf(1.3, 20_000), 100_000).astype(int)
    zdf = spark.createDataFrame([(int(v),) for v in zvals], "x long")
    zq = Counter(
        r["lvl"] for r in quantize_equidepth(
            zdf, "x", 4, "lvl", 0.0, 100_001.0, n_hist=4096
        ).collect()
    )
    assert zq.most_common(1)[0][0] == 0  # the tie mass sits at level 0
    assert len(zq) >= 6, zq


def test_zorder_roundtrip_property(spark):
    """decode(encode(coords)) == coords for random coordinate tuples
    at k=2 and k=3 — the Morton key is information-preserving."""
    import numpy as np

    from prohap_spark.operators.layout import zorder_decode, zorder_key

    rng = np.random.default_rng(17)
    for k, bits in ((2, 8), (3, 5)):
        cols = [f"c{j}" for j in range(k)]
        rows = [
            tuple(int(v) for v in rng.integers(0, 1 << bits, k))
            for _ in range(500)
        ]
        df = spark.createDataFrame(rows, ", ".join(f"{c} long" for c in cols))
        out = df.withColumn("z", zorder_key(cols, bits)).withColumn(
            "back", zorder_decode(F.col("z"), k, bits)
        )
        for r in out.collect():
            assert list(r["back"]) == [r[c] for c in cols], (k, r)


def test_bloom_plan_meets_target_empirically(spark):
    """bloom_plan's chosen (k, m) meets its FP target when measured on
    real data: plan for 3000 keys at 1e-2, build the filter, probe
    50k non-member keys, and compare the empirical FP rate to the
    prediction (within 3x — binomial noise + model slack). Also: the
    planner refuses an impossible target instead of shipping a
    saturated filter."""
    import pytest as _pytest

    from prohap_spark.functions.sketches import bloom_build
    from prohap_spark.operators.bloom_join import (
        bloom_pass_expr,
        bloom_plan,
        bloom_words_dense,
    )

    plan = bloom_plan(3000, fp_target=1e-2)
    assert plan["predicted_fp"] <= 1e-2
    dim = spark.createDataFrame([(k,) for k in range(3000)], "dkey long")
    keys = dim.select(F.col("dkey").cast("string").alias("__bk")).distinct()
    words = bloom_words_dense(
        bloom_build(keys, "__bk", plan["k"], plan["m_bits"]), plan["m_bits"]
    )
    probe = spark.createDataFrame(
        [(k,) for k in range(1_000_000, 1_050_000)], "key long"
    )
    n_fp = probe.where(
        bloom_pass_expr(F.col("key").cast("string"), words, plan["k"], plan["m_bits"])
    ).count()
    assert n_fp / 50_000 <= 3 * plan["predicted_fp"], (n_fp, plan)

    with _pytest.raises(ValueError, match="shard the dim keys"):
        bloom_plan(10_000_000, fp_target=1e-6)


def test_compact_parquet_preserves_data_and_reduces_files(spark, tmp_path):
    """Compaction: 64 tiny files rewritten into few size-targeted
    files with IDENTICAL data (validated row count + checksum), and a
    corrupted rewrite is refused loudly (the never-rewrite-in-place
    discipline: source untouched either way)."""
    from prohap_spark.operators.compact import compact_parquet

    src = str(tmp_path / "small")
    df = spark.range(20_000).select(
        F.col("id"), (F.col("id") % 97).alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    df.repartition(64).write.mode("overwrite").parquet(src)

    dst = str(tmp_path / "compacted")
    stats = compact_parquet(spark, src, dst, target_bytes=1 << 30)
    assert stats["n_rows"] == 20_000
    assert stats["src_files"] == 64
    assert stats["dst_files"] <= 4
    a = {tuple(r) for r in spark.read.parquet(src).collect()}
    b = {tuple(r) for r in spark.read.parquet(dst).collect()}
    assert a == b


def test_canonicalize_url_collapses_variants(spark):
    """URL canonicalization: tracking params, fragments, case, port,
    param order, and trailing slashes all collapse to one dedup key;
    distinct pages stay distinct; malformed urls yield NULL."""
    from prohap_spark.functions.text import canonicalize_url

    variants = [
        "https://Example.com/a/b?utm_source=x&id=1#frag",
        "https://example.com/a/b/?id=1",
        "HTTPS://EXAMPLE.COM/a/b?id=1&utm_campaign=y&fbclid=z",
        "https://example.com:443/a/b?id=1",
    ]
    distinct = [
        "https://example.com/a/b?id=2",      # different param value
        "https://example.com/a/c?id=1",      # different path
        "http://example.com/a/b?id=1",       # different scheme
        "https://other.com/a/b?id=1",        # different host
    ]
    df = spark.createDataFrame(
        [(u,) for u in variants + distinct + ["not a url at all"]], "u string"
    ).select("u", canonicalize_url("u").alias("c"))
    rows = {r["u"]: r["c"] for r in df.collect()}
    canon = {rows[u] for u in variants}
    assert len(canon) == 1, canon
    key = canon.pop()
    assert key == "https://example.com/a/b?id=1"
    others = {rows[u] for u in distinct}
    assert len(others) == 4 and key not in others
    assert rows["not a url at all"] is None


def test_retention_matrix_literal_fixture(spark):
    """Cohort retention on a hand-derived fixture: cohort = first
    active day, each cell counts users active at that age, age 0
    equals cohort size."""
    import datetime as dt

    from prohap_spark.operators.resample import retention_matrix

    def t(day):
        return dt.datetime(2024, 1, day)

    rows = [
        # cohort day1: u1 active d1,d2,d4; u2 active d1,d2; two events
        # same bucket must count once
        ("u1", t(1)), ("u1", t(2)), ("u1", t(4)), ("u2", t(1)),
        ("u2", t(1)), ("u2", t(2)),
        # cohort day3: u3 active d3 only
        ("u3", t(3)),
    ]
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    out = {
        (r["cohort"], r["age"]): r["n_users"]
        for r in retention_matrix(df, "user", "ts", 86400).collect()
    }
    d1 = min(c for c, _ in out)
    assert out[(d1, 0)] == 2          # u1, u2
    assert out[(d1, 1)] == 2          # both active day2
    assert out[(d1, 3)] == 1          # only u1 on day4
    assert (d1, 2) not in out         # nobody active day3 from cohort1
    assert out[(d1 + 2, 0)] == 1      # u3's cohort
    assert len(out) == 4


def test_write_bloom_index_auto_plan(spark, tmp_path):
    """fp_target sizing: the artifact's meta carries bloom_plan's
    (k, m), and the planned filter meets its target empirically on
    non-member probes."""
    from prohap_spark.operators.bloom_join import (
        bloom_plan,
        bloom_prefilter_from_index,
        write_bloom_index,
    )

    dim = spark.createDataFrame([(k,) for k in range(2000)], "dkey long")
    path = str(tmp_path / "autobloom")
    manifest = write_bloom_index(dim, "dkey", path, fp_target=1e-2)
    plan = bloom_plan(2000, fp_target=1e-2)
    assert (manifest["k"], manifest["m_bits"]) == (plan["k"], plan["m_bits"])
    probe = spark.createDataFrame(
        [(k,) for k in range(10_000_000, 10_030_000)], "key long"
    )
    n_fp = bloom_prefilter_from_index(
        spark, probe, "key", path, k=plan["k"], m_bits=plan["m_bits"]
    ).count()
    assert n_fp / 30_000 <= 3 * plan["predicted_fp"], n_fp


def test_recluster_parquet_validated_zorder_rewrite(spark, tmp_path):
    """recluster_parquet: the z-order rewrite preserves every row
    (validated) AND delivers the layout property — per-file spans on
    both clustered columns shrink vs the unclustered source."""
    import numpy as np

    from prohap_spark.operators.compact import recluster_parquet

    rng = np.random.default_rng(23)
    n = 15_000
    src = str(tmp_path / "raw")
    spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(
            rng.integers(0, 50_000, n), rng.integers(0, 50_000, n)
        )],
        "x long, y long",
    ).repartition(8).write.mode("overwrite").parquet(src)

    dst = str(tmp_path / "zclustered")
    stats = recluster_parquet(spark, src, dst, ["x", "y"], bits=8, n_files=16)
    assert stats["n_rows"] == n
    a = {tuple(r) for r in spark.read.parquet(src).collect()}
    b = {tuple(r) for r in spark.read.parquet(dst).collect()}
    assert a == b

    def mean_span(path, col):
        per = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name())
            .agg((F.max(col) - F.min(col)).alias("s"))
            .collect()
        )
        return sum(r["s"] for r in per) / len(per)

    # unclustered: every file spans ~the full domain on both dims
    assert mean_span(src, "x") >= 45_000
    assert mean_span(src, "y") >= 45_000
    # reclustered: both dims localized
    assert mean_span(dst, "x") <= 30_000
    assert mean_span(dst, "y") <= 30_000


def test_vacuum_index_sweeps_orphans_and_refuses_data_loss(spark, tmp_path):
    """operators/compact.py vacuum_index: stragglers make the
    manifest-validated read refuse; vacuum removes exactly the
    unmanifested files and the read validates again; a MISSING
    committed file (data loss) makes vacuum itself refuse."""
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from prohap_spark.operators.compact import vacuum_index
    from prohap_spark.operators.dedup import read_dedup_index, write_dedup_index

    idx = str(tmp_path / "idx")
    df = spark.range(0, 500).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("fp")
    )
    m = write_dedup_index(df, idx)
    assert m["files"] and all(f.endswith(".parquet") for f in m["files"])

    # pollute: copy a committed part to an unmanifested name
    part = os.path.join(idx, m["files"][0])
    shutil.copy(part, os.path.join(idx, "part-zzz-straggler.parquet"))
    with pytest.raises(ValueError):
        read_dedup_index(spark, idx)

    stats = vacuum_index(spark, idx)
    assert stats == {"orphans_removed": 1, "kept": len(m["files"])}
    assert read_dedup_index(spark, idx).count() == 500
    # idempotent: nothing left to sweep
    assert vacuum_index(spark, idx)["orphans_removed"] == 0

    # data loss: vacuum refuses, it cannot repair a torn index
    os.remove(part)
    with pytest.raises(ValueError, match="torn"):
        vacuum_index(spark, idx)


def test_vacuum_index_partitioned_layout(spark, tmp_path):
    """File tracking and the sweep work under partitionBy layouts
    (relative paths include the partition dirs)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from prohap_spark.operators.compact import vacuum_index
    from prohap_spark.operators.dedup import read_dedup_index, write_dedup_index

    idx = str(tmp_path / "idxp")
    df = spark.range(0, 300).select(
        (F.col("id") % 4).alias("cell"), F.col("id").alias("k")
    )
    m = write_dedup_index(df, idx, partition_by=["cell"])
    assert any("/" in f or os.sep in f for f in m["files"])
    victim_dir = os.path.dirname(os.path.join(idx, m["files"][0]))
    shutil.copy(
        os.path.join(idx, m["files"][0]),
        os.path.join(victim_dir, "part-zzz-straggler.parquet"),
    )
    assert vacuum_index(spark, idx)["orphans_removed"] == 1
    assert read_dedup_index(spark, idx).count() == 300


def test_preference_pairs_properties(spark):
    """text_preference_pairs: max-margin pairing invariants — every
    doc appears at most once per side, chosen strictly out-scores
    rejected, pair ranks are the better half, and no doc is paired
    with itself."""
    from prohap_spark.queries.textdata import text_preference_pairs

    rows = text_preference_pairs(spark, "/root/testdata/sf0.001").collect()
    assert rows
    chosen = [r["chosen"] for r in rows]
    rejected = [r["rejected"] for r in rows]
    assert len(chosen) == len(set(chosen))
    assert len(rejected) == len(set(rejected))
    assert not (set(chosen) & set(rejected))
    for r in rows:
        assert r["margin_micro"] > 0
        assert r["chosen"] != r["rejected"]
        assert r["chosen"] % 37 == r["pid"] and r["rejected"] % 37 == r["pid"]


def test_segment_append_empty_delta_noop(spark, tmp_path):
    """Empty-delta ingest ticks are NO-OPS, never torn directories: the
    trigram segment appender must leave the index fully readable, and
    must also no-op on a nonempty delta whose texts are too short to
    shingle."""
    import os

    from prohap_spark.operators.trgm import (
        append_trigram_segment,
        build_trigram_index,
        read_trigram_segments,
        write_trigram_index,
    )

    docs = spark.createDataFrame(
        [(i, f"some document text number {i}") for i in range(20)],
        "doc_id long, text string",
    )
    trg = str(tmp_path / "trg")
    write_trigram_index(build_trigram_index(docs, "doc_id", "text"), trg)
    assert append_trigram_segment(
        spark, trg, docs.where(F.lit(False)), "doc_id", "text"
    )["segment"] is None
    # nonempty delta, texts too short to shingle: also a no-op
    shorts = spark.createDataFrame([(99, "ab"), (98, "x")], "doc_id long, text string")
    assert append_trigram_segment(spark, trg, shorts, "doc_id", "text")[
        "segment"
    ] is None
    assert not any(d.startswith(".seg_") for d in os.listdir(trg))
    assert read_trigram_segments(spark, trg).count() > 0


def test_write_dedup_index_empty_partitioned_fails_clean(spark, tmp_path):
    """An empty frame with partition_by cannot round-trip parquet —
    the writer must fail LOUD with the real cause and leave NO torn
    directory behind (previously the raw UNABLE_TO_INFER_SCHEMA
    surfaced and a manifest-less dir stayed on disk)."""
    import os

    import pytest as _pytest

    from prohap_spark.operators.dedup import write_dedup_index

    path = str(tmp_path / "idx")
    empty = spark.createDataFrame([], "k long, cell_id long")
    with _pytest.raises(ValueError, match="EMPTY frame with partition_by"):
        write_dedup_index(empty.where(F.lit(False)), path, partition_by=["cell_id"])
    assert not os.path.exists(path)
    # empty UNPARTITIONED index still round-trips (schema-bearing file)
    m = write_dedup_index(empty, str(tmp_path / "flat"))
    assert m["n_rows"] == 0


def test_vacuum_index_never_touches_segments(spark, tmp_path):
    """vacuum_index sweeps only the BASE artifact's unmanifested
    stragglers; dot-prefixed segment dirs (their own manifests, their
    own lifecycle) must be invisible to the sweep — a future change
    that walks hidden dirs would silently delete committed segment
    data, which this pin turns into a loud failure."""
    import os

    from prohap_spark.operators.compact import vacuum_index
    from prohap_spark.operators.trgm import (
        append_trigram_segment,
        build_trigram_index,
        read_trigram_segments,
        write_trigram_index,
    )

    docs = spark.createDataFrame(
        [(i, f"some document body number {i}") for i in range(30)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "trg")
    write_trigram_index(
        build_trigram_index(docs.where(F.col("doc_id") < 20), "doc_id", "text"),
        path,
    )
    append_trigram_segment(
        spark, path, docs.where(F.col("doc_id") >= 20), "doc_id", "text"
    )
    n_before = read_trigram_segments(spark, path).count()
    seg = os.path.join(path, ".seg_00000")
    seg_files = sorted(os.listdir(seg))

    # pollute the BASE with a straggler; vacuum must remove exactly it
    straggler = os.path.join(path, "part-straggler.parquet")
    docs.limit(1).write.mode("overwrite").parquet(str(tmp_path / "tiny"))
    import glob as _glob
    import shutil

    src = _glob.glob(str(tmp_path / "tiny" / "*.parquet"))[0]
    shutil.copy(src, straggler)
    stats = vacuum_index(spark, path)
    assert not os.path.exists(straggler)
    assert sorted(os.listdir(seg)) == seg_files
    assert read_trigram_segments(spark, path).count() == n_before
    assert stats is not None


def test_multi_doc_keys_minmax_equivalence(spark):
    """The min!=max fast path of _multi_doc_keys (min_docs=2) must
    select exactly the keys countDistinct(id)>=2 selects, including
    the edge cases: intra-doc repeats (distinct count 1), null ids
    (ignored by countDistinct; min/max skip them too), and an
    all-null-id key (dropped by both). The general min_docs=3 path
    stays countDistinct-based and is pinned on the same fixture."""
    from pyspark.sql import functions as F

    from prohap_spark.operators.dedup import _multi_doc_keys

    rows = [
        ("k_two_docs", 1), ("k_two_docs", 2),
        ("k_one_doc_repeat", 3), ("k_one_doc_repeat", 3),
        ("k_null_plus_one", None), ("k_null_plus_one", 4),
        ("k_all_null", None), ("k_all_null", None),
        ("k_three_docs", 5), ("k_three_docs", 6), ("k_three_docs", 7),
    ]
    ex = spark.createDataFrame(rows, ["__k", "doc_id"])
    fast = {r["__k"] for r in _multi_doc_keys(ex, "__k", "doc_id", 2).collect()}
    ref = {
        r["__k"]
        for r in ex.groupBy("__k")
        .agg(F.countDistinct("doc_id").alias("n"))
        .where(F.col("n") >= 2)
        .collect()
    }
    assert fast == ref == {"k_two_docs", "k_three_docs"}
    general = {
        r["__k"] for r in _multi_doc_keys(ex, "__k", "doc_id", 3).collect()
    }
    assert general == {"k_three_docs"}


def test_shingle_drop_empty_equivalence(spark):
    """shingle_table(drop_empty=True) filters on the cheap precondition
    size(words) >= ngram instead of size(__tokens) > 0 (which Catalyst
    pushes below the projections, re-evaluating the whole shingle
    pipeline inside the Filter). The two predicates must select exactly
    the same rows for every edge case: null text, empty text,
    whitespace-only text (split -> [""]), docs shorter than the gram,
    docs exactly at the gram length, and repeated words (distinct
    grams still non-empty)."""
    from pyspark.sql import functions as F

    from prohap_spark.operators.dedup import shingle_table

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "one"),
        (5, "one two"),
        (6, "one two three"),
        (7, "same same same"),
        (8, "a  b\tc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for n in (1, 2, 3, 4):
        fast = shingle_table(df, "doc_id", "text", n, drop_empty=True)
        slow = shingle_table(df, "doc_id", "text", n).where(
            F.size("__tokens") > 0
        )
        fast_rows = {(r["doc_id"], tuple(r["__tokens"])) for r in fast.collect()}
        slow_rows = {(r["doc_id"], tuple(r["__tokens"])) for r in slow.collect()}
        assert fast_rows == slow_rows, f"ngram={n}: {fast_rows} != {slow_rows}"
    # and the whole point: the fast filter's condition must not contain
    # the gram build (zip_with) — one split, no token re-evaluation
    plan_lines = (
        shingle_table(df, "doc_id", "text", 2, drop_empty=True)
        ._jdf.queryExecution().executedPlan().toString().splitlines()
    )
    filt = [ln for ln in plan_lines if "Filter" in ln and "size(" in ln]
    assert filt and all("zip_with" not in ln for ln in filt)
