"""Semantic tests for the round-3 tail operators — beyond the bit-for-bit
DuckDB oracle replica (test_datapipe_oracle.py), these assert the *meaning*:
sequence packing follows the concat-and-chunk contract, planted repetition
trips the Gopher top-n-gram gates, unseen bigrams score higher than train
bigrams, SURT lookup canonicalizes www and excludes TLD siblings and
prefix-colliding domains, and the AIMD politeness ladder backs off on the
documented thresholds."""

import os

import pandas as pd
import pytest

from frontier.datapipe import REGISTRY, _PACK_SEQ_LEN, normalize

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _write_docs(tmp_path, rows) -> str:
    """Materialize a documents.parquet with the driver's exact schema."""
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    df["doc_id"] = df["doc_id"].astype("int64")
    df["n_chars"] = df["text"].str.len().astype("int64")
    out = str(tmp_path / "docs")
    os.makedirs(out, exist_ok=True)
    df.to_parquet(os.path.join(out, "documents.parquet"), index=False)
    return out


def _write_events(tmp_path, rows) -> str:
    """Materialize an events.parquet with the driver's exact schema."""
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    df["event_id"] = df["event_id"].astype("int64")
    # Spark can't read TIMESTAMP(NANOS); match the driver's micros unit
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    df["user_id"] = df["user_id"].astype("int64")
    df["value"] = df["value"].astype("float64")
    df["props"] = "{}"
    out = str(tmp_path / "evts")
    os.makedirs(out, exist_ok=True)
    df.to_parquet(os.path.join(out, "events.parquet"), index=False)
    return out


def _tokens(n: int, word: str = "tok") -> str:
    return " ".join(word for _ in range(n))


def test_pack_sequences_concat_chunk_contract(spark, tmp_path):
    """Known token counts -> exact (shard, offset, last-shard) under the
    2048-token concat-and-chunk rule; a token-less doc is absent; block
    boundaries (doc_id div 64) don't perturb the global prefix sum."""
    rows = [
        (0, _tokens(1000), "en", "web"),
        (1, _tokens(1500), "en", "web"),
        (2, _tokens(600), "en", "web"),
        (3, "", "en", "web"),  # no tokens -> absent
        # doc 200 lives in block 3 while 0-3 live in block 0: the broadcast
        # exclusive block prefix must carry 3100 tokens across empty blocks
        (200, _tokens(3000), "en", "web"),
    ]
    sf = _write_docs(tmp_path, rows)
    got = (
        REGISTRY["trainset_pack_sequences"].build(spark, sf).toPandas()
    )
    assert got["doc_id"].tolist() == [0, 1, 2, 200]
    seq = _PACK_SEQ_LEN
    assert seq == 2048
    # starts: 0, 1000, 2500, 3100
    expect = {
        0: (0 // seq, 0 % seq, (0 + 1000 - 1) // seq),
        1: (1000 // seq, 1000 % seq, (1000 + 1500 - 1) // seq),
        2: (2500 // seq, 2500 % seq, (2500 + 600 - 1) // seq),
        200: (3100 // seq, 3100 % seq, (3100 + 3000 - 1) // seq),
    }
    for _, r in got.iterrows():
        sid, off, last = expect[int(r.doc_id)]
        assert (int(r.shard_id), int(r.shard_offset), int(r.shard_id_last)) \
            == (sid, off, last), r.doc_id
    # global invariants: offsets in range, docs tile the token stream
    assert (got.shard_offset < seq).all() and (got.shard_offset >= 0).all()
    assert (got.shard_id_last >= got.shard_id).all()


def test_topgram_gates_planted_repetition(spark, tmp_path):
    """A doc that is one repeated 2-gram maxes the top-2-gram fraction and
    fails the gates; a diverse doc passes all three thresholds."""
    rows = [
        # 'spam ham' x10: top 2-gram covers all 70 chars
        (0, "spam ham " * 10, "en", "web"),
        # 50 distinct 6-char words: top-n coverage is n*6/300
        (1, " ".join(f"word{i:02d}" for i in range(50)), "en", "web"),
    ]
    sf = _write_docs(tmp_path, rows)
    got = (
        REGISTRY["text_topgram_gates"].build(spark, sf).toPandas()
        .set_index("doc_id")
    )
    assert int(got.loc[0, "top2_permille"]) == 1000
    assert not bool(got.loc[0, "passes_topgram_gates"])
    assert int(got.loc[1, "total_chars"]) == 300
    assert int(got.loc[1, "top2_permille"]) == 1000 * 12 // 300
    assert int(got.loc[1, "top3_permille"]) == 1000 * 18 // 300
    assert int(got.loc[1, "top4_permille"]) == 1000 * 24 // 300
    assert bool(got.loc[1, "passes_topgram_gates"])


def test_bigram_lm_unseen_scores_higher(spark, tmp_path):
    """A held-out doc of unseen bigrams must out-score (= be more
    surprising than) a doc made of the train split's dominant bigram;
    a one-token doc has no bigrams and is absent."""
    rows = [
        (0, "aa bb " * 20, "en", "web"),   # train (0 % 5 < 4)
        (1, "aa bb " * 20, "en", "web"),   # train
        (2, "aa bb " * 20, "en", "web"),   # train
        (3, "aa bb " * 20, "en", "web"),   # train
        (4, "zz qq zz qq zz qq", "en", "web"),  # held out, unseen bigrams
        (9, "aa", "en", "web"),            # held out, no bigrams -> absent
    ]
    sf = _write_docs(tmp_path, rows)
    got = (
        REGISTRY["text_bigram_lm_score"].build(spark, sf).toPandas()
        .set_index("doc_id")
    )
    assert 9 not in got.index
    assert not bool(got.loc[4, "in_train"])
    assert int(got.loc[4, "lm_score"]) > int(got.loc[0, "lm_score"])


def test_cdx_surt_lookup_canonicalization(spark, tmp_path):
    """www. strips to the same SURT key as the bare host; the .org deep
    subdomain and the prefix-colliding src10 domain are both excluded."""
    rows = [
        (0, "x", "en", "src1"),    # src1.example.com -> included
        (1, "x", "en", "src1"),    # www.src1.example.com -> included
        (2, "x", "en", "src1"),    # cdn.assets.src1.example.org -> excluded
        (3, "x", "en", "src10"),   # src10.example.com -> prefix collision
        (6, "x", "en", "src2"),    # src2.example.com -> other domain
    ]
    sf = _write_docs(tmp_path, rows)
    got = REGISTRY["cdx_surt_lookup"].build(spark, sf).toPandas()
    assert got["doc_id"].tolist() == [0, 1]
    assert got["surt"].tolist() == [
        "com,example,src1)/p0.html",
        "com,example,src1)/p1.html",  # www. canonicalized away
    ]
    assert got["host"].tolist() == ["src1.example.com", "www.src1.example.com"]


def test_adaptive_politeness_aimd_ladder(spark, tmp_path):
    """>=10% 5xx -> budget 4; else >=25% slow (>=1500ms) -> budget 8;
    else full rate 32. Hosts come from user_id % 20, errors from
    event_type='error', latency from floor(value*10)."""
    ts = "2026-01-01T00:00:00"
    rows = []
    eid = 0
    # host h0 (user 0): 10 healthy fetches
    for _ in range(10):
        rows.append((eid, ts, 0, "view", 1.0)); eid += 1
    # host h1 (user 1): 2 errors in 10 -> 20% >= 10% -> budget 4
    for i in range(10):
        rows.append((eid, ts, 1, "error" if i < 2 else "view", 1.0)); eid += 1
    # host h2 (user 2): 3 slow (value 160 -> 1600ms) in 10 -> 30% >= 25% -> 8
    for i in range(10):
        rows.append((eid, ts, 2, "view", 160.0 if i < 3 else 1.0)); eid += 1
    sf = _write_events(tmp_path, rows)
    got = (
        REGISTRY["adaptive_politeness"].build(spark, sf).toPandas()
        .set_index("host")
    )
    assert int(got.loc["h0", "next_budget"]) == 32
    assert int(got.loc["h1", "next_budget"]) == 4
    assert int(got.loc["h2", "next_budget"]) == 8


def test_ngram_count_table_cutoff_and_rank(spark, tmp_path):
    """Counts are corpus-wide, singletons die at the cutoff, and the head
    ranks by (count desc, gram asc) deterministically."""
    rows = [
        (0, "a b a b a b", "en", "web"),  # a:3 b:3; 'a b':3 'b a':2
        (1, "c d", "en", "web"),          # all singletons -> absent
    ]
    sf = _write_docs(tmp_path, rows)
    got = REGISTRY["ngram_count_table"].build(spark, sf).toPandas()
    by_n = {n: g for n, g in got.groupby("n")}
    assert by_n[1][["gram", "cnt"]].values.tolist() == [["a", 3], ["b", 3]]
    assert by_n[2][["gram", "cnt"]].values.tolist() == [["a b", 3], ["b a", 2]]
    assert by_n[3][["gram", "cnt"]].values.tolist() == [
        ["a b a", 2], ["b a b", 2]
    ]
    assert "c" not in set(got["gram"]) and "c d" not in set(got["gram"])


def test_round3_ops_fuzz_vs_duckdb(spark, tmp_path):
    """Deterministic adversarial corpus (empty docs, punctuation-only,
    single tokens, pathological repeats, digit runs, mixed case) — every
    round-3 text operator must match its DuckDB oracle bit-for-bit on it,
    not just on the driver's well-behaved synth corpus."""
    import random

    import duckdb

    rng = random.Random(0xC0FFEE)
    vocab = ["the", "Spark", "a", "b2", "zz", "Q", "loooooongword", "x9y"]
    rows = []
    for doc_id in range(80):
        shape = doc_id % 8
        if shape == 0:
            text = ""
        elif shape == 1:
            text = "!!! ??? ... --- %%%"          # tokenizes to nothing
        elif shape == 2:
            text = rng.choice(vocab)               # single token
        elif shape == 3:
            text = " ".join([rng.choice(vocab[:2])] * rng.randint(2, 40))
        elif shape == 4:
            text = " ".join(str(rng.randint(0, 99)) for _ in range(30))
        elif shape == 5:
            text = ("spam ham " * rng.randint(1, 30)).strip()
        elif shape == 6:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 120)))
        else:
            text = "A a THE the Zz zz " * rng.randint(1, 10)
        rows.append((doc_id, text, "en", f"src{doc_id % 3}"))
    sf = _write_docs(tmp_path, rows)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    for name in [
        "text_bigram_lm_score",
        "trainset_pack_sequences",
        "text_topgram_gates",
        "cdx_surt_lookup",
        "ngram_count_table",
    ]:
        got = normalize(REGISTRY[name].build(spark, sf).toPandas())
        want = normalize(con.execute(REGISTRY[name].oracle).df())
        pd.testing.assert_frame_equal(got, want, check_dtype=False), name


def test_adaptive_budgets_drive_fetch_plan(spark, tmp_path):
    """The loop closes: observed health -> AIMD budgets -> per-host
    admission via fetch_plan_budgeted (ladder max 32 == the crawl-wide
    default cap, satisfying the budgeted-plan contract)."""
    from pyspark.sql import functions as F

    from frontier.robots import fetch_plan_budgeted

    ts = "2026-01-01T00:00:00"
    rows = []
    eid = 0
    for _ in range(10):
        rows.append((eid, ts, 0, "view", 1.0)); eid += 1   # h0 healthy
    for i in range(10):
        rows.append((eid, ts, 1, "error" if i < 2 else "view", 1.0)); eid += 1
    sf = _write_events(tmp_path, rows)
    budgets = (
        REGISTRY["adaptive_politeness"].build(spark, sf)
        .select("host", F.col("next_budget").alias("fetch_budget"))
    )

    pages = spark.createDataFrame(
        [(f"http://{h}/p{i:02d}", 0.5, None)
         for h in ("h0", "h1") for i in range(40)],
        "page_url string, priority double, last_modified timestamp",
    )
    plan = fetch_plan_budgeted(pages, budgets, default_budget=32).toPandas()
    per_host = plan.groupby("canonical_host").size().to_dict()
    assert per_host == {"h0": 32, "h1": 4}


def test_trustrank_unreachable_node_gets_zero(spark, tmp_path):
    """TrustRank's defining property vs PageRank: no teleport mass outside
    the trusted set, so a host with no in-path from a trusted seed decays
    to EXACTLY 0. Graph from the closed-form edge map: doc 8 -> edge 8->27
    (8 trusted), doc 1 -> edge 1->21 (both untrusted, disconnected from 8)."""
    rows = [(8, "x", "en", "web"), (1, "x", "en", "web")]
    sf = _write_docs(tmp_path, rows)
    got = (
        REGISTRY["host_trustrank"].build(spark, sf).toPandas()
        .set_index("host_id")
    )
    scale = 10**12
    assert bool(got.loc[8, "is_trusted"])
    assert int(got.loc[8, "trust_units"]) == 15 * scale // 100
    assert int(got.loc[27, "trust_units"]) == 85 * (15 * scale // 100) // 100
    assert int(got.loc[1, "trust_units"]) == 0
    assert int(got.loc[21, "trust_units"]) == 0


def test_fuzzy_best_survivor_keeps_longest(spark, tmp_path):
    """Near-identical docs (one a truncation of the other) cluster
    together; the quality-aware rule keeps the LONGER doc even though its
    doc_id is higher — where dedup_fuzzy_e2e would keep the min doc_id."""
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo")
    rows = [
        (0, base, "en", "web"),                    # truncation
        (1, base + " sierra tango uniform victor", "en", "web"),  # canonical
        (2, "completely different vocabulary here entirely so", "en", "web"),
    ]
    sf = _write_docs(tmp_path, rows)
    got = (
        REGISTRY["dedup_fuzzy_best_survivor"].build(spark, sf).toPandas()
        .set_index("doc_id")
    )
    assert 1 in got.index and 0 not in got.index
    assert int(got.loc[1, "n_dups_removed"]) == 1
    assert 2 in got.index and int(got.loc[2, "n_dups_removed"]) == 0
    e2e = (
        REGISTRY["dedup_fuzzy_e2e"].build(spark, sf).toPandas()
        .set_index("doc_id")
    )
    assert 0 in e2e.index and 1 not in e2e.index  # min-id rule, by contrast


def test_simhash_hamming_planted_pairs(spark, tmp_path):
    """Manku banding semantics: an exact duplicate pairs at distance 0; a
    lightly-edited copy pairs within distance <= 3 (the per-bit vote margin
    grows with word repetition, so a repeated-vocabulary doc — the testdata
    corpus shape — absorbs a two-word edit in low-margin bits only); an
    unrelated-vocabulary doc pairs with neither. doc_id % 7 == 0 rows are
    re-planted by the operator itself at doc_id + 1000000."""
    base = ("spark shuffle partition broadcast join filter scan codegen "
            "arrow parquet frontier sitemap crawl budget host queue "
            "bloom seen wave snapshot lineage resume politeness ") * 3
    rows = [
        (0, base, "en", "web"),          # planted copy at 1000000 (two-word edit)
        (1, base, "en", "web"),          # exact duplicate of 0 -> distance 0
        (2, "totally disjoint lexicon zebra quark nebula vortex umbra "
            "glyph prism ember cobalt dune fjord willow raven "
            "saffron tundra opal quartz bramble cedar", "en", "web"),
    ]
    sf = _write_docs(tmp_path, rows)
    got = REGISTRY["dedup_simhash_hamming"].build(spark, sf).toPandas()
    pairs = {(a, b): h for a, b, h in
             zip(got["doc_a"], got["doc_b"], got["hamming"])}
    assert pairs[(0, 1)] == 0                      # exact dup, distance 0
    assert (0, 1000000) in pairs and pairs[(0, 1000000)] <= 3  # planted edit
    assert not any(2 in p for p in pairs)          # disjoint doc pairs nothing
    assert (got["hamming"] <= 3).all()             # verify stage bound holds


def test_semdedup_planted_pairs(spark):
    """SemDeDup contract: each planted scaled copy (cos(x, c*x) = 1) forms a
    within-cluster semantic-dup pair, and exactly the nearer-to-centroid
    member is removed (the scaled copy has the larger norm, hence larger
    dist2, hence survives per the paper's keep-farthest rule)."""
    got = (
        REGISTRY["dedup_semantic_semdedup"].build(spark, SF_DIR).toPandas()
        .set_index("vec_id")
    )
    planted = [v for v in got.index if v >= 1000000]
    assert planted, "corpus must plant scaled copies"
    for v in planted:
        assert bool(got.loc[v, "kept"])            # scaled copy survives
        assert not bool(got.loc[v - 1000000, "kept"])  # original removed
        assert got.loc[v, "cluster"] == got.loc[v - 1000000, "cluster"]
    # dedup is within-cluster only: every removal is pair-justified, so at
    # most half the corpus can vanish and all originals w/o a >=0.99
    # neighbor survive
    naturals = got.loc[[v for v in got.index if v < 1000000 and (v % 50) != 0]]
    assert naturals["kept"].all()


def test_dsir_target_vocab_outscores_source_vocab(spark, tmp_path):
    """DSIR contract: a held-out source doc written in the TARGET slice's
    vocabulary must out-score a source doc in source-only vocabulary (its
    features carry high p_target/p_source ratios), and every returned score
    is positive with is_target flagging exactly the src0 slice."""
    tgt_vocab = "quantum entangle qubit lattice photon boson "
    src_vocab = "football referee stadium goal penalty corner "
    rows = [
        (0, tgt_vocab * 10, "en", "src0"),   # target slice
        (1, tgt_vocab * 10, "en", "src0"),
        (2, src_vocab * 10, "en", "src1"),   # bulk source distribution
        (3, src_vocab * 10, "en", "src2"),
        (4, tgt_vocab * 5, "en", "src3"),    # source doc, target-like text
        (5, src_vocab * 5, "en", "src3"),    # source doc, source-like text
    ]
    sf = _write_docs(tmp_path, rows)
    got = (
        REGISTRY["dsir_importance_weights"].build(spark, sf).toPandas()
        .set_index("doc_id")
    )
    assert got.loc[4, "dsir_score"] > got.loc[5, "dsir_score"]
    assert (got["dsir_score"] > 0).all()
    assert set(got[got["is_target"]].index) == {0, 1}


def test_simhash_banding_recall_property():
    """Pigeonhole recall, tested against the ACTUAL banding SQL: for ANY
    pair of 60-bit fingerprints at Hamming distance <= 3, at least one of
    the 4 disjoint 15-bit bands matches exactly, so the banded join must
    surface the pair. Runs the operator's tail SQL on DuckDB over
    constructed fingerprints: 200 random vectors, each with a planted
    partner at every distance 0..3 (random bit choices), plus distance-4
    partners that must survive banding only if they land in a shared
    band by chance — and must ALWAYS be cut by the <= 3 verify."""
    import random

    import duckdb

    from frontier.datapipe import _LSH_BUCKET_CAP, _SH_BANDS_TAIL

    rng = random.Random(0xC0FFEE)
    rows = []  # (doc_id, simhash, band, bval)
    planted = []  # (doc_a, doc_b, distance)
    next_id = 0

    def add(fp):
        nonlocal next_id
        did = next_id
        next_id += 1
        for band in range(4):
            rows.append((did, fp, band, (fp >> (band * 15)) % 32768))
        return did

    for _ in range(200):
        base = rng.getrandbits(60)
        a = add(base)
        for dist in range(5):
            fp = base
            for k in rng.sample(range(60), dist):
                fp ^= 1 << k
            b = add(fp)
            if dist <= 3:
                planted.append((min(a, b), max(a, b), dist))

    con = duckdb.connect()
    con.register("sh_bands", pd.DataFrame(
        rows, columns=["doc_id", "simhash", "band", "bval"]))
    got = con.execute(
        "WITH " + _SH_BANDS_TAIL.format(
            cap=_LSH_BUCKET_CAP, bitcount="bit_count(xor(ha, hb))")
    ).fetchdf()
    found = {(a, b): h for a, b, h in
             zip(got["doc_a"], got["doc_b"], got["hamming"])}
    for a, b, dist in planted:
        assert found.get((a, b)) == dist, (a, b, dist)
    assert (got["hamming"] <= 3).all()


def test_incremental_minhash_verdicts_planted(spark, tmp_path):
    """Planted incremental dedup: a batch doc equal to a history doc is
    dup_of_history; two equal batch docs with no history twin resolve to
    one unique survivor + one dup_in_batch; a lone batch doc is unique.
    History docs (doc_id % 3 != 0) never appear in the output."""
    long_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
    long_b = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(12))
    long_c = " ".join(f"eta{i} theta{i} iota{i}" for i in range(12))
    rows = [
        (1, long_a, "en", "hist"),   # history
        (2, long_c, "en", "hist"),   # history, unrelated
        (3, long_a, "en", "web"),    # batch: exact twin of history doc 1
        (6, long_b, "en", "web"),    # batch: twin of 9, absent in history
        (9, long_b, "en", "web"),
        (12, "completely different unique content " * 8, "en", "web"),
    ]
    sf = _write_docs(tmp_path, rows)
    out = {
        r["doc_id"]: r
        for r in REGISTRY["dedup_incremental_minhash"].build(spark, sf).collect()
    }
    assert set(out) == {3, 6, 9, 12}  # only batch docs (doc_id % 3 == 0)
    assert out[3]["verdict"] == "dup_of_history" and out[3]["dup_of"] == 1
    assert out[6]["verdict"] == "unique" and out[6]["dup_of"] is None
    assert out[9]["verdict"] == "dup_in_batch" and out[9]["dup_of"] == 6
    assert out[12]["verdict"] == "unique" and out[12]["dup_of"] is None
