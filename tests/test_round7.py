"""Round-7 operator tests: multi-key blocking for entity resolution
(recall vs brute force on a constructed typo corpus) and the staged-r8
query replays live in tests/test_staged_r8.py."""

from __future__ import annotations

from pyspark.sql import functions as F


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _typo_corpus():
    """40 clean names + per-name variants with a typo in the FIRST
    char (breaks prefix blocking), the LAST char (breaks suffix
    blocking), and a doubled 5th char (length +1; breaks any
    length-sensitive key) — no single key of the three blocking keys
    sees every within-identity pair, their union sees all. The
    identity digits repeat FIVE times, so distinct identities are
    >= 5 edits apart and any two variants of different identities are
    >= 3 > max_distance — brute force never pairs across identities.
    base[4] == base[5] ('XX') so the doubled-char variant keeps the
    6-char prefix AND (insertion before the tail) the 6-char suffix."""
    rows = []
    rid = 0
    for i in range(40):
        d = f"{i:02d}"
        base = f"Cu{d}XX{d}y{d}z{d}w{d}"
        rows.append((rid, base)); rid += 1
        if i % 2 == 0:  # first-char typo
            rows.append((rid, "Q" + base[1:])); rid += 1
        if i % 3 == 0:  # last-char typo
            rows.append((rid, base[:-1] + "q")); rid += 1
        if i % 5 == 0:  # doubled char (length +1)
            rows.append((rid, base[:5] + base[4:])); rid += 1
    return rows


def _brute_pairs(rows, max_distance=2):
    out = set()
    for i, (ida, ta) in enumerate(rows):
        for idb, tb in rows[i + 1 :]:
            if _lev(ta, tb) <= max_distance:
                out.add((min(ida, idb), max(ida, idb)))
    return out


def _block_keys():
    # built lazily: Column exprs need an active SparkContext
    return [
        F.substring("name", 1, 6),  # prefix
        F.substring("name", -6, 6),  # suffix
        F.concat(F.substring("name", 4, 8), F.length("name")),  # mid+len
    ]


def test_multi_key_blocking_full_recall_vs_brute_force(spark):
    from remap_spark.operators.linkage import (
        blocked_match_pairs,
        blocked_match_pairs_multi,
    )

    rows = _typo_corpus()
    df = spark.createDataFrame(rows, "id long, name string")
    want = _brute_pairs(rows)
    assert want, "corpus must produce matches"

    got = {
        (r["id_a"], r["id_b"])
        for r in blocked_match_pairs_multi(
            df, "id", "name", _block_keys(), max_distance=2
        ).collect()
    }
    # union of keys reaches every true pair on this corpus (every typo
    # leaves at least one of prefix/suffix/mid+len intact), and
    # blocking never invents pairs: candidates are lev-verified
    assert got == want

    # the single prefix key PROVABLY misses the first-char-typo pairs
    single = {
        (r["id_a"], r["id_b"])
        for r in blocked_match_pairs(
            df, "id", "name", F.substring("name", 1, 6), max_distance=2
        ).collect()
    }
    assert single < want


def test_multi_key_per_key_cap_drops_block_for_that_key_only(spark):
    from remap_spark.operators.linkage import blocked_match_pairs_multi

    # two records identical except last char: same prefix (oversized
    # shared block under key0 once we add filler rows with that
    # prefix), same suffix-key block (small). Cap kills key0's block;
    # the pair must survive via the suffix key.
    rows = [(0, "AAAA-match-Z1"), (1, "AAAA-match-Z2")]
    rows += [(10 + i, f"AAAA-filler-{i:03d}") for i in range(30)]
    df = spark.createDataFrame(rows, "id long, name string")
    keys = [F.substring("name", 1, 4), F.substring("name", 6, 6)]
    got = {
        (r["id_a"], r["id_b"])
        for r in blocked_match_pairs_multi(
            df, "id", "name", keys, max_distance=2, max_block_size=10
        ).collect()
    }
    assert (0, 1) in got


def test_resolve_entities_multi_closure_and_self_entities(spark):
    from remap_spark.operators.linkage import resolve_entities_multi

    rows = _typo_corpus()
    df = spark.createDataFrame(rows, "id long, name string")
    out = resolve_entities_multi(
        df, "id", "name", _block_keys(), max_distance=2
    ).collect()
    assert len(out) == len(rows)
    want = _brute_pairs(rows)
    # transitive closure over brute pairs, python-side
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in want:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {i: find(i) for i, _ in rows}
    got = {r["id"]: r["entity_id"] for r in out}
    assert got == expect


# ---------------------------------------------------------------------------
# Maximal-match exact-substring dedup (suffix-array-faithful tier)


def _span_docs(spark):
    # vocabulary of unique filler words keeps accidental 5-gram
    # duplicates impossible; the constructed spans are the only repeats
    filler = lambda tag, n: " ".join(f"{tag}{j}w" for j in range(n))
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    # dup = 11 tokens = 2k+1 for k=5
    rows = [
        (0, f"{filler('a', 6)} {dup} {filler('b', 6)}"),
        (1, f"{filler('c', 4)} {dup} {filler('d', 8)}"),
        (2, filler("e", 20)),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string"), dup


def test_maximal_match_spans_exact_length_single_row(spark):
    from remap_spark.operators.dedup import maximal_match_spans

    df, dup = _span_docs(spark)
    out = maximal_match_spans(df, k=5).collect()
    spans = {(r["doc"], r["span_start"], r["span_len"]) for r in out}
    # one maximal span per document copy, exactly 11 tokens long —
    # not k-tiled fragments, not an over-merged run
    assert spans == {(0, 6, 11), (1, 4, 11)}


def test_keep_one_removes_2kplus1_duplicate_exactly_once(spark):
    from remap_spark.operators.dedup import remove_duplicate_spans_keep_one

    df, dup = _span_docs(spark)
    out = {
        r["doc"]: r
        for r in remove_duplicate_spans_keep_one(df, k=5).collect()
    }
    # doc 0 (earlier occurrence) keeps the span; doc 1 loses exactly
    # the 11 duplicated tokens; doc 2 untouched
    assert out[0]["n_removed"] == 0 and dup in out[0]["text"]
    assert out[1]["n_removed"] == 11 and dup not in out[1]["text"]
    assert out[1]["text"].split() == (
        [f"c{j}w" for j in range(4)] + [f"d{j}w" for j in range(8)]
    )
    assert out[2]["n_removed"] == 0


def test_keep_one_nway_duplicate_keeps_exactly_first_copy(spark):
    from remap_spark.operators.dedup import remove_duplicate_spans_keep_one

    dup = "alpha beta gamma delta epsilon zeta eta"
    rows = [(i, f"x{i}a x{i}b {dup} y{i}a y{i}b") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc"]: r
        for r in remove_duplicate_spans_keep_one(df, k=5).collect()
    }
    assert out[0]["n_removed"] == 0 and dup in out[0]["text"]
    for i in (1, 2, 3):
        assert out[i]["n_removed"] == 7 and dup not in out[i]["text"]


def test_maximal_spans_split_where_island_merge_overmerges(spark):
    """Doc 0 carries two overlapping repeats with DIFFERENT partners:
    tokens [0,10) duplicated with doc 1, tokens [5,15) with doc 2.
    The island merge (duplicate_span_lengths) reports one [0,15) run
    that occurs contiguously nowhere else; the maximal-match tier
    must report the two real repeats with their true lengths."""
    from remap_spark.operators.dedup import (
        duplicate_span_lengths,
        maximal_match_spans,
    )

    w = [f"s{j}w" for j in range(15)]  # doc 0: 15 unique tokens
    rows = [
        (0, " ".join(w)),
        (1, " ".join(["p1a", "p1b"] + w[:10] + ["q1a", "q1b"])),
        (2, " ".join(["p2a", "p2b"] + w[5:15] + ["q2a", "q2b"])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc"], r["span_start"], r["span_len"])
        for r in maximal_match_spans(df, k=5).collect()
    }
    assert got == {
        (0, 0, 10), (0, 5, 10),  # the two true repeats, separately
        (1, 2, 10), (2, 2, 10),
        # docs 1 and 2 ALSO share the 5-token overlap w[5:10] as a
        # maximal match of their own pair — the exact tier lists it
        (1, 7, 5), (2, 2, 5),
    }
    merged = {
        (r["doc"], r["span_start"], r["span_len"])
        for r in duplicate_span_lengths(df, k=5).collect()
    }
    # the documented relaxation: coverage union merges them
    assert (0, 0, 15) in merged


def test_maximal_spans_max_gram_docs_drops_stop_gram_matches(spark):
    from remap_spark.operators.dedup import maximal_match_spans

    boiler = "the quick brown fox jumps"
    rows = [(i, f"u{i}a {boiler} v{i}b") for i in range(10)]
    rows.append((100, "alpha beta gamma delta epsilon zeta"))
    rows.append((101, "alpha beta gamma delta epsilon zeta"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = maximal_match_spans(df, k=5, max_gram_docs=5).collect()
    # boilerplate gram in 10 docs is dropped by the cap; the rare
    # 2-doc duplicate survives
    docs = {r["doc"] for r in got}
    assert docs == {100, 101}


# ---------------------------------------------------------------------------
# Native MP3 container parse (spec-arithmetic verification)


def _mp3_frame(bitrate_kbps, sr_idx=0, version=3, padding=0, mode=1):
    """One spec-valid MPEG Layer III frame: 4-byte header + payload of
    the exact §2.4.3.1 frame length. sr_idx 0 -> 44100 (MPEG1)."""
    br_v1 = [None, 32, 40, 48, 56, 64, 80, 96, 112, 128,
             160, 192, 224, 256, 320, None]
    br_v2 = [None, 8, 16, 24, 32, 40, 48, 56, 64, 80,
             96, 112, 128, 144, 160, None]
    rates = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000)}
    table = br_v1 if version == 3 else br_v2
    br_idx = table.index(bitrate_kbps)
    rate = rates[version][sr_idx]
    spf = 1152 if version == 3 else 576
    flen = (spf // 8) * (bitrate_kbps * 1000) // rate + padding
    h = bytes([
        0xFF,
        0xE0 | (version << 3) | (1 << 1),  # layer III
        (br_idx << 4) | (sr_idx << 2) | (padding << 1),
        mode << 6,
    ])
    return h + bytes((flen - 4) * [0xAB])


def test_mp3_frame_walk_cbr_exact_counts():
    from remap_spark.operators.multimodal import parse_mp3_frames

    blob = b"".join(_mp3_frame(128) for _ in range(10))
    n, sr, ch, samples, br_sum, vbr = parse_mp3_frames(blob)
    assert (n, sr, ch, samples) == (10, 44100, 2, 11520)
    assert br_sum == 1280 and not vbr


def test_mp3_frame_walk_padding_and_vbr():
    from remap_spark.operators.multimodal import parse_mp3_frames

    # 44100 Hz 128 kbps alternates padded/unpadded in real encoders;
    # the walk must use the per-frame padding bit to find the next sync
    frames = [
        _mp3_frame(128, padding=i % 2) for i in range(6)
    ] + [_mp3_frame(192), _mp3_frame(64)]
    n, sr, ch, samples, br_sum, vbr = parse_mp3_frames(b"".join(frames))
    assert n == 8 and vbr
    assert br_sum == 128 * 6 + 192 + 64


def test_mp3_id3v2_prefix_and_id3v1_tail_skipped():
    from remap_spark.operators.multimodal import parse_mp3_frames

    # ID3v2 synchsafe size 0x0101 = 129 payload bytes
    id3v2 = b"ID3\x04\x00\x00\x00\x00\x01\x01" + bytes(129)
    id3v1 = b"TAG" + bytes(125)
    body = b"".join(_mp3_frame(64, sr_idx=1) for _ in range(4))
    n, sr, ch, samples, br_sum, vbr = parse_mp3_frames(
        id3v2 + body + id3v1
    )
    assert (n, sr, samples) == (4, 48000, 4608)


def test_mp3_mpeg2_halved_frame_size():
    from remap_spark.operators.multimodal import parse_mp3_frames

    blob = b"".join(_mp3_frame(64, version=2, mode=3) for _ in range(5))
    n, sr, ch, samples, br_sum, vbr = parse_mp3_frames(blob)
    assert (n, sr, ch, samples) == (5, 22050, 1, 2880)


def test_mp3_garbage_rejected_and_feature_contract():
    import pytest as _pytest

    from remap_spark.operators.multimodal import (
        _decode_audio_impl,
        parse_mp3_frames,
    )

    with _pytest.raises(ValueError):
        parse_mp3_frames(b"\xff\xfb" + bytes(100))  # one header, no chain

    blob = b"".join(_mp3_frame(128) for _ in range(3))
    n, feats = _decode_audio_impl(blob, fake=False)
    assert n == 3456  # total samples, real spec arithmetic
    assert feats[7] == 2.0 and feats[6] == 44100 / 96000.0
    assert feats[0] == round(128 / 320.0, 6)

    # unknown codec still raises on fake=False (the honest seam)
    with _pytest.raises(NotImplementedError):
        _decode_audio_impl(b"\x00\x01\x02\x03" + bytes(64), fake=False)


# ---------------------------------------------------------------------------
# Trigram Stupid Backoff


def test_trigram_backoff_matches_python_reference(spark):
    import math
    from collections import Counter

    from remap_spark.operators.text import trigram_backoff_scores

    # (b, c) is the dominant bigram with four distinct left contexts:
    # top-3 trigram model keeps three of the count-1 trigrams, so the
    # fourth (x b c) hits tier 2 via the in-model (b, c) bigram; rare
    # trigrams elsewhere fall through to tier 1
    rows = [
        (0, "p b c q b c r b c s b c"),
        (1, "m n o m n o"),
        (2, "u v w x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    M3, M2 = 3, 2  # tight caps so every backoff tier fires
    got = {
        r["doc_id"]: r
        for r in trigram_backoff_scores(
            df, max_model_trigrams=M3, max_model_bigrams=M2
        ).collect()
    }

    tris = []
    for did, text in rows:
        w = text.split()
        tris += [(did, w[i], w[i + 1], w[i + 2]) for i in range(len(w) - 2)]
    c3 = Counter(t[1:] for t in tris)
    cx3 = Counter(t[1:3] for t in tris)
    c2 = Counter(t[2:] for t in tris)
    cx2 = Counter(t[2:3] for t in tris)
    c1 = Counter(t[3:] for t in tris)
    n = len(tris)
    m3 = dict(sorted(c3.items(), key=lambda kv: (-kv[1], kv[0]))[:M3])
    m2 = dict(sorted(c2.items(), key=lambda kv: (-kv[1], kv[0]))[:M2])
    backoff_tiers = set()
    by_doc = {}
    for did, w1, w2, w3 in tris:
        if (w1, w2, w3) in m3:
            s = m3[(w1, w2, w3)] / cx3[(w1, w2)]
            backoff_tiers.add(3)
        elif (w2, w3) in m2:
            s = 0.4 * m2[(w2, w3)] / cx2[(w2,)]
            backoff_tiers.add(2)
        else:
            s = 0.4 * 0.4 * c1[(w3,)] / n
            backoff_tiers.add(1)
        by_doc.setdefault(did, []).append(math.log(s))
    assert backoff_tiers == {3, 2, 1}, "caps must exercise every tier"
    for did, logs in by_doc.items():
        r = got[did]
        assert r["n_trigrams"] == len(logs)
        assert abs(r["score_log_mean"] - round(sum(logs) / len(logs), 5)) <= 1e-5


# ---------------------------------------------------------------------------
# Property: maximal_match_spans == brute-force pairwise maximal matches


def _brute_maximal_spans(docs, k):
    """O(n² m²) reference: for every doc pair and every alignment
    diagonal, scan token-equality runs; runs >= k are maximal matches
    (cannot extend either direction by construction of the run)."""
    out = set()
    ids = sorted(docs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = docs[ids[ai]], docs[ids[bi]]
            for diag in range(-(len(b) - 1), len(a)):
                i = max(0, diag)
                j = i - diag
                run = 0
                while i <= len(a) and j <= len(b):
                    same = (
                        i < len(a) and j < len(b) and a[i] == b[j]
                    )
                    if same:
                        run += 1
                    else:
                        if run >= k:
                            out.add((ids[ai], i - run, run))
                            out.add((ids[bi], j - run, run))
                        run = 0
                    i += 1
                    j += 1
    return out


def test_maximal_spans_property_vs_brute_force(spark):
    import random

    from remap_spark.operators.dedup import maximal_match_spans

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(6)]  # tiny vocab -> dense repeats
    for trial in range(3):
        docs = {
            d: [rng.choice(vocab) for _ in range(rng.randint(8, 30))]
            for d in range(6)
        }
        df = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs.items()],
            "doc_id long, text string",
        )
        got = {
            (r["doc"], r["span_start"], r["span_len"])
            for r in maximal_match_spans(df, k=4).collect()
        }
        want = _brute_maximal_spans(docs, k=4)
        assert got == want, (
            trial,
            sorted(got - want)[:5],
            sorted(want - got)[:5],
        )


def test_maximal_spans_ignore_same_doc_repeat(spark):
    from remap_spark.operators.dedup import maximal_match_spans

    # doc 0 repeats a 7-token phrase twice with unique filler between;
    # the pairs are cross-document only, so nothing matches
    dup = "alpha beta gamma delta epsilon zeta eta"
    rows = [
        (0, f"{dup} f0a f0b f0c {dup}"),
        (1, "u0 u1 u2 u3 u4 u5 u6 u7"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert maximal_match_spans(df, k=5).count() == 0


# ---------------------------------------------------------------------------
# Incremental span dedup (ingest-time exact-substring removal)


def test_incremental_spans_equals_full_recompute_on_new_docs(spark):
    import random

    from remap_spark.operators.dedup import (
        incremental_remove_spans,
        remove_duplicate_spans,
        span_gram_store_rows,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(4)]  # tiny vocab -> shared 4-grams
    docs = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(12, 30)))
        for d in range(10)
    }
    old = spark.createDataFrame(
        [(d, t) for d, t in docs.items() if d % 2 == 0],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(d, t) for d, t in docs.items() if d % 2 == 1],
        "doc_id long, text string",
    )
    store = span_gram_store_rows(old, k=4)
    inc = {
        r["doc"]: (r["text"], r["n_tokens"], r["n_removed"])
        for r in incremental_remove_spans(new, store, k=4).collect()
    }
    # equivalence: the union-corpus recompute, restricted to new docs
    full = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    want = {
        r["doc"]: (r["text"], r["n_tokens"], r["n_removed"])
        for r in remove_duplicate_spans(full, k=4).collect()
        if r["doc"] % 2 == 1
    }
    assert inc == want
    assert any(v[2] > 0 for v in inc.values()), "fixture must remove spans"


def test_incremental_spans_store_hit_and_batch_dup(spark):
    from remap_spark.operators.dedup import (
        incremental_remove_spans,
        span_gram_store_rows,
    )

    boiler = "alpha beta gamma delta epsilon"
    batch_dup = "one two three four five six"
    old = spark.createDataFrame(
        [(0, f"p0a p0b {boiler} p0c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, f"n0a {boiler} n0b"),          # hits the store
            (11, f"m0a {batch_dup} m0b"),       # within-batch pair
            (12, f"q0a {batch_dup} q0b"),
            (13, "z0a z0b z0c z0d z0e z0f"),    # untouched
        ],
        "doc_id long, text string",
    )
    store = span_gram_store_rows(old, k=5)
    out = {
        r["doc"]: r for r in incremental_remove_spans(new, store, k=5).collect()
    }
    assert out[10]["n_removed"] == 5 and boiler not in out[10]["text"]
    assert out[11]["n_removed"] == 6 and out[12]["n_removed"] == 6
    assert out[13]["n_removed"] == 0


def test_incremental_spans_bucketed_store_no_store_exchange(spark):
    """The gram-store probe must co-locate when the store is bucketed
    on g: the bucketed plan carries fewer Exchanges than the same
    probe against an unbucketed store (same contract as the fuzzy
    signature store)."""
    import shutil

    from conftest import SF_DIR

    from remap_spark.engine import load_table
    from remap_spark.operators.dedup import (
        incremental_remove_spans,
        span_gram_store_rows,
    )
    from remap_spark.plans import explain_str
    from remap_spark.sources import write_bucketed_table

    docs = load_table(spark, SF_DIR, "documents")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    store = span_gram_store_rows(old, k=5)
    for tbl in ("gram_store_b", "gram_store_flat"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"spark-warehouse/{tbl}", ignore_errors=True)
    write_bucketed_table(store, "gram_store_b", ["g"], 8)
    store.write.mode("overwrite").saveAsTable("gram_store_flat")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        n_bucketed = explain_str(
            incremental_remove_spans(new, spark.table("gram_store_b"), k=5),
            "simple",
        ).count("Exchange")
        n_flat = explain_str(
            incremental_remove_spans(new, spark.table("gram_store_flat"), k=5),
            "simple",
        ).count("Exchange")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert n_bucketed == n_flat - 1, (n_bucketed, n_flat)


def test_mp3_id3v24_footer_flag_skipped():
    from remap_spark.operators.multimodal import parse_mp3_frames

    # footer flag 0x10: tag = 10-byte header + 32-byte body (synchsafe
    # size 32) + 10-byte footer, then the frame chain
    tag = b"ID3\x04\x00\x10\x00\x00\x00\x20" + bytes(32)
    footer = b"3DI\x04\x00\x10\x00\x00\x00\x20"
    body = b"".join(_mp3_frame(128) for _ in range(3))
    n, sr, ch, samples, br_sum, vbr = parse_mp3_frames(tag + footer + body)
    assert (n, sr, samples) == (3, 44100, 3456)


# ---------------------------------------------------------------------------
# HITS (staged r8): operator vs an independent numpy power iteration
# ---------------------------------------------------------------------------


def test_hits_matches_numpy_power_iteration(spark):
    """operators/pregel.hits == an independent dense numpy HITS with
    the same L1 normalization, to 1e-9 — then sanity: vertex '0' (in
    PAGERANK_ADJ the most-linked-to sink feeder) tops authorities and
    vertex '1' (fans out to all nine others) tops hubs."""
    import numpy as np

    from remap_spark.operators.pregel import hits
    from remap_spark.queries.graphs import PAGERANK_ADJ, _edges_df

    ids = sorted(PAGERANK_ADJ)
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    A = np.zeros((n, n))
    for s, dsts in PAGERANK_ADJ.items():
        for d in dsts:
            A[idx[s], idx[d]] = 1.0
    h = np.ones(n)
    for _ in range(8):
        a = A.T @ h
        a = a / a.sum() if a.sum() > 0 else a
        h = A @ a
        h = h / h.sum() if h.sum() > 0 else h

    edges = _edges_df(spark, PAGERANK_ADJ)
    verts = spark.createDataFrame([(v,) for v in PAGERANK_ADJ], "id string")
    got = {
        r["id"]: (r["hub"], r["auth"])
        for r in hits(verts, edges, iters=8, num_partitions=2).collect()
    }
    assert set(got) == set(ids)
    for v in ids:
        assert abs(got[v][0] - h[idx[v]]) < 1e-9, (v, got[v][0], h[idx[v]])
        assert abs(got[v][1] - a[idx[v]]) < 1e-9, (v, got[v][1], a[idx[v]])
    assert max(got, key=lambda v: got[v][1]) == "0"
    assert max(got, key=lambda v: got[v][0]) == "1"


def test_hits_zero_degree_vertices(spark):
    """A vertex with no in-edges holds authority 0; no out-edges ->
    hub 0; an isolated vertex holds both zeros (the L1 guard never
    divides by zero)."""
    from remap_spark.operators.pregel import hits

    edges = spark.createDataFrame(
        [("s", "t")], "src string, dst string"
    )
    verts = spark.createDataFrame(
        [("s",), ("t",), ("iso",)], "id string"
    )
    got = {
        r["id"]: (r["hub"], r["auth"])
        for r in hits(verts, edges, iters=3, num_partitions=2).collect()
    }
    assert got["iso"] == (0.0, 0.0)
    assert got["s"][1] == 0.0 and got["t"][0] == 0.0
    assert got["s"][0] == 1.0 and got["t"][1] == 1.0


def _edge_scan_widths(df) -> set[int]:
    """Partition counts of the (src, dst) checkpointed scans under
    ``df``'s optimized plan: the width hits repartitions its edges to."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    widths = set()
    for i in range(leaves.size()):
        node = leaves.apply(i)
        out = node.output()
        names = [out.apply(j).name() for j in range(out.size())]
        if node.getClass().getSimpleName() == "LogicalRDD" and names == ["src", "dst"]:
            widths.add(node.rdd().getNumPartitions())
    return widths


def test_hits_exchange_width_follows_the_input(spark):
    """Unset ``num_partitions``: hits shuffles its edges to the
    input-derived width (``_input_width``, one-partition inputs give
    4), not the session's ``spark.sql.shuffle.partitions``; a set
    ``num_partitions`` (ext_graph_hits passes 2) is kept."""
    from remap_spark.operators.pregel import _input_width, hits
    from remap_spark.queries.graphs import PAGERANK_ADJ, _edges_df

    edges = _edges_df(spark, PAGERANK_ADJ).coalesce(1)
    verts = spark.createDataFrame([(v,) for v in PAGERANK_ADJ], "id string").coalesce(1)
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _input_width(verts, edges) == 4 < session
    assert _edge_scan_widths(hits(verts, edges, iters=2)) == {4}
    assert _edge_scan_widths(hits(verts, edges, iters=2, num_partitions=2)) == {2}


# ---------------------------------------------------------------------------
# Cross-corpus decontamination spans (staged r8)
# ---------------------------------------------------------------------------


def test_cross_corpus_spans_semantics(spark):
    """A 7-token run shared train->eval reports exactly (start, 7) with
    one witness; a duplicate shared only train->train reports NOTHING
    (no intra-corpus pairing); a run in two eval docs counts both."""
    from remap_spark.operators.dedup import cross_corpus_match_spans

    shared = "alpha beta gamma delta epsilon zeta eta"
    train = spark.createDataFrame(
        [
            (1, f"x1 x2 {shared} y1 y2"),
            (2, "t1 t2 t3 dup1 dup2 dup3 dup4 dup5"),
            (3, "s1 s2 s3 dup1 dup2 dup3 dup4 dup5"),
        ],
        "doc_id long, text string",
    )
    evald = spark.createDataFrame(
        [(100, f"e1 {shared} e2"), (101, f"{shared} f1 f2")],
        "doc_id long, text string",
    )
    got = {
        (r["doc"], r["span_start"], r["span_len"]): r["n_probe_docs"]
        for r in cross_corpus_match_spans(train, evald, k=5).collect()
    }
    assert got == {(1, 2, 7): 2}


# ---------------------------------------------------------------------------
# RAKE keyword extraction (staged r8)
# ---------------------------------------------------------------------------


def test_rake_hand_computed(spark):
    """Hand-worked RAKE: freq/degree/score on a two-doc corpus with a
    repeated phrase — deep: freq 3, degree 6; learning: freq 2,
    degree 4; net: freq 1, degree 2 — every word scores 2.0 (ppm
    2,000,000), both phrases score 4,000,000, and 'deep learning'
    counts two occurrences."""
    from remap_spark.operators.text import rake_keywords

    docs = spark.createDataFrame(
        [(1, "deep learning of the deep net"), (2, "deep learning")],
        "doc_id long, text string",
    )
    rows = [tuple(r) for r in rake_keywords(docs, top_n=10).collect()]
    assert rows == [
        ("deep learning", 4000000, 2),
        ("deep net", 4000000, 1),
    ]


# ---------------------------------------------------------------------------
# CEP strict-contiguity pattern match (staged r8)
# ---------------------------------------------------------------------------


def test_match_pattern_strict_contiguity(spark):
    """a c+ b with strict contiguity: an interleaved 'x' kills the
    match the funnel would still count; a doubled first-run anchors
    at its LAST event; within_us prunes slow matches."""
    from remap_spark.operators.sessions import match_pattern

    rows = [
        # u1: a c c b  -> one match, n_middle=2, anchor at t=10
        (1, 10, 1, "a"), (1, 20, 2, "c"), (1, 30, 3, "c"), (1, 40, 4, "b"),
        # u2: a c x b  -> interleaved x breaks contiguity: no match
        (2, 10, 5, "a"), (2, 20, 6, "c"), (2, 30, 7, "x"), (2, 40, 8, "b"),
        # u3: a a c b  -> anchor at the LAST 'a' (t=20)
        (3, 10, 9, "a"), (3, 20, 10, "a"), (3, 30, 11, "c"), (3, 40, 12, "b"),
        # u4: a b -> no middle run: no match
        (4, 10, 13, "a"), (4, 20, 14, "b"),
    ]
    ev = spark.createDataFrame(
        [(u, t * 1000, i, ty) for (u, t, i, ty) in rows],
        "user_id long, us long, event_id long, event_type string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "event_id",
        "event_type",
    )
    got = sorted(
        (r["user_id"], r["first_us"], r["last_us"], r["n_middle"])
        for r in match_pattern(ev, "a", "c", "b").collect()
    )
    assert got == [(1, 10000, 40000, 2), (3, 20000, 40000, 1)]
    # within bound: u1 duration 30000us; bound 25000 keeps only u3
    tight = sorted(
        r["user_id"]
        for r in match_pattern(ev, "a", "c", "b", within_us=25000).collect()
    )
    assert tight == [3]


# ---------------------------------------------------------------------------
# Incremental join maintenance (staged r8)
# ---------------------------------------------------------------------------


def test_join_delta_equals_full_recompute(spark):
    """R_old ∪ dR == (A∪dA) >< (B∪dB) as a MULTISET, on random splits
    of random data — the IVM identity, including the dA><dB cross
    term exactly once."""
    import random

    rng = random.Random(7)
    a_rows = [(rng.randrange(12), f"a{i}") for i in range(80)]
    b_rows = [(rng.randrange(12), f"b{i}") for i in range(90)]
    a_new = set(rng.sample(range(80), 25))
    b_new = set(rng.sample(range(90), 30))

    from collections import Counter

    from remap_spark.operators.rollup import join_delta

    mk = lambda rows, cols: spark.createDataFrame(rows, cols)
    A = [r for i, r in enumerate(a_rows) if i not in a_new]
    dA = [r for i, r in enumerate(a_rows) if i in a_new]
    B = [r for i, r in enumerate(b_rows) if i not in b_new]
    dB = [r for i, r in enumerate(b_rows) if i in b_new]
    schema_a, schema_b = "k long, av string", "k long, bv string"
    d_r = join_delta(
        mk(A, schema_a), mk(dA, schema_a),
        mk(B, schema_b), mk(dB, schema_b), on="k",
    )
    r_old = mk(A, schema_a).join(mk(B, schema_b), "k")
    maintained = Counter(
        tuple(r) for r in r_old.unionByName(d_r).collect()
    )
    full = Counter(
        tuple(r)
        for r in mk(a_rows, schema_a).join(mk(b_rows, schema_b), "k").collect()
    )
    assert maintained == full and sum(full.values()) > 0


# ---------------------------------------------------------------------------
# Bucketed co-located join: the write-once-shuffle-never layout
# ---------------------------------------------------------------------------


def test_bucketed_join_plans_zero_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts
    sort-merge-join with NO Exchange anywhere in the physical plan —
    the shuffle moved to write time. A same-key groupBy on the
    bucketed table is exchange-free too. Results stay identical to
    the plain join."""
    from remap_spark.engine import load_table
    from remap_spark.plans import explain_str
    from remap_spark.sources import write_bucketed_table

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "o_orderkey")

    bo = write_bucketed_table(
        orders, "t_bkt_orders", ["o_orderkey"], 4, ["o_orderkey"],
        path=str(tmp_path / "bo"),
    )
    bl = write_bucketed_table(
        li, "t_bkt_lineitem", ["o_orderkey"], 4, ["o_orderkey"],
        path=str(tmp_path / "bl"),
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bo.join(bl, "o_orderkey")
        plan = explain_str(joined, "formatted")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount" in plan, plan

        agg = bl.groupBy("o_orderkey").count()
        aplan = explain_str(agg, "formatted")
        assert "Exchange" not in aplan, aplan

        # identical results to the unbucketed join
        expect = sorted(tuple(r) for r in orders.join(li, "o_orderkey").collect())
        got = sorted(tuple(r) for r in joined.collect())
        assert got == expect and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_bkt_orders")
        spark.sql("DROP TABLE IF EXISTS t_bkt_lineitem")


# ---------------------------------------------------------------------------
# k-truss (staged r8)
# ---------------------------------------------------------------------------


def test_k_truss_strips_pendant_triangle(spark):
    """K4 ∪ pendant triangle: the 4-truss is exactly the K4 (each
    edge closes 2 triangles); the pendant triangle's edges close only
    1 and peel away — including the shared vertex's edges. Direction
    and duplicates in the input are normalized away."""
    from remap_spark.operators.pregel import k_truss

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    pendant = [(3, 4), (4, 5), (3, 5)]
    # feed some edges reversed and duplicated
    raw = k4 + pendant + [(b, a) for a, b in k4[:3]] + [(0, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = sorted(
        (r["src"], r["dst"], r["support"])
        for r in k_truss(edges, k=4).collect()
    )
    assert got == [(a, b, 2) for a, b in k4]


def test_k_truss_k3_keeps_all_triangle_edges(spark):
    """k=3 (support >= 1) keeps every edge that closes any triangle
    and drops bridges."""
    from remap_spark.operators.pregel import k_truss

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 9)], "src long, dst long"
    )
    got = sorted(
        (r["src"], r["dst"]) for r in k_truss(edges, k=3).collect()
    )
    assert got == [(0, 1), (0, 2), (1, 2)]


# ---------------------------------------------------------------------------
# EXIF parse (staged r8)
# ---------------------------------------------------------------------------


def test_parse_exif_real_bytes_both_endians():
    """Hand-checked parse of constructed spec-valid EXIF JPEGs: both
    TIFF byte orders, offset-stored ASCII, in-line left-justified
    SHORT, a skipped JFIF APP0, and the 0x8769 sub-IFD pointer; a
    JFIF-only JPEG and a non-JPEG return None."""
    from remap_spark.operators.multimodal import parse_exif
    from remap_spark.queries.staged_r8 import _exif_fixture_blob

    for i in range(60):
        got = parse_exif(_exif_fixture_blob(i))
        assert got == (
            "II" if i % 2 == 0 else "MM",
            5,
            f"Make{i % 5}",
            f"Cam{i % 7}",
            1 + i % 8,
            f"2023:01:{1 + i % 28:02d} 10:00:00",
            1 + i % 4,
        ), (i, got)
    assert parse_exif(b"\xff\xd8\xff\xd9") is None
    assert parse_exif(b"\x89PNG\r\n\x1a\n") is None
    # JFIF-only (no APP1): None
    jfif = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    blob = (
        b"\xff\xd8\xff\xe0"
        + (len(jfif) + 2).to_bytes(2, "big")
        + jfif
        + b"\xff\xd9"
    )
    assert parse_exif(blob) is None


# ---------------------------------------------------------------------------
# Weighted percentiles + clustering coefficient (staged r8)
# ---------------------------------------------------------------------------


def test_weighted_percentiles_hand_computed(spark):
    """Weights move the percentile where row counts would not: values
    1..4 with weights (1,1,1,7) put wp50 at 4 (cumweight 3 < 5 until
    the heavy value) while the unweighted median is 2; ties
    accumulate together under the RANGE frame."""
    from remap_spark.operators.ml import weighted_percentiles

    df = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 1), ("g", 4.0, 7),
         ("h", 10.0, 5), ("h", 20.0, 5)],
        "grp string, v double, w long",
    )
    got = {
        r["grp"]: (r["wp50"], r["wp90"])
        for r in weighted_percentiles(
            df, "v", "w", ["grp"], {"wp50": 500000, "wp90": 900000}
        ).collect()
    }
    # g: total 10; cum 1,2,3,10 -> wp50 = first v with cum>=5 -> 4.0
    assert got["g"] == (4.0, 4.0)
    # h: total 10; cum 5,10 -> wp50: 5*1e6 >= 5e5*10 -> 10.0; wp90 -> 20.0
    assert got["h"] == (10.0, 20.0)


def test_clustering_coefficient_hand_computed(spark):
    """Bowtie graph (two triangles sharing vertex 0): the hinge has
    degree 4 and 2 triangles -> lcc = 2*2/(4*3) = 1/3; the wing
    vertices have degree 2, 1 triangle -> lcc = 1."""
    from remap_spark.operators.pregel import clustering_coefficient

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 3), (3, 4), (4, 0)],
        "src long, dst long",
    )
    got = {
        r["vertex_id"]: (r["degree"], r["triangles"], r["lcc_ppm"])
        for r in clustering_coefficient(edges).collect()
    }
    assert got[0] == (4, 2, 333333)
    for v in (1, 2, 3, 4):
        assert got[v] == (2, 1, 1000000)


def test_dedup_canonical_keeps_best_copy(spark):
    """Chain A~B, B~C collapses to one cluster that keeps the
    HIGHEST-quality member (not the min id); a quality tie keeps the
    smaller id; unpaired docs survive as singletons."""
    from remap_spark.operators.dedup import dedup_canonical

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (7, 5)],
        "doc_id long, quality long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: (r["cluster"], r["keep"])
        for r in dedup_canonical(docs, pairs, "quality").collect()
    }
    assert got == {
        1: (1, False),
        2: (1, True),   # quality 99, tie with 3 -> smaller id wins
        3: (1, False),
        7: (7, True),   # singleton
    }


# ---------------------------------------------------------------------------
# Review-pass regressions (round-7 wave 2)
# ---------------------------------------------------------------------------


def test_benford_unobserved_digit_still_emits(spark):
    """A column with NO value starting with 1 must still emit the
    digit-1 row — deviation -301030 is the loudest possible Benford
    flag, not a missing row."""
    from remap_spark.operators.expectations import benford_deviation

    df = spark.createDataFrame(
        [(float(v),) for v in (2, 25, 3, 42, 9, 87, 55, 63, 7, 31)],
        "x double",
    )
    rows = {r["digit"]: r for r in benford_deviation(df, "x").collect()}
    assert sorted(rows) == list(range(1, 10))
    assert rows[1]["n"] == 0
    assert rows[1]["observed_ppm"] == 0
    assert rows[1]["deviation_ppm"] == -301030


def test_match_pattern_null_event_type_breaks_contiguity(spark):
    """A NULL-typed event between stages is still an interleaving
    event: IS-DISTINCT-FROM run splitting (a bare != would merge it
    into the previous run and emit a phantom match)."""
    from remap_spark.operators.sessions import match_pattern

    rows = [
        (1, 10, 1, "a"), (1, 20, 2, None), (1, 30, 3, "c"), (1, 40, 4, "b"),
        (2, 10, 5, "a"), (2, 20, 6, "c"), (2, 30, 7, "b"),
    ]
    ev = spark.createDataFrame(
        [(u, t * 1000, i, ty) for (u, t, i, ty) in rows],
        "user_id long, us long, event_id long, event_type string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "event_id",
        "event_type",
    )
    got = sorted(
        r["user_id"] for r in match_pattern(ev, "a", "c", "b").collect()
    )
    assert got == [2]


def test_parse_exif_fill_bytes_and_restart_markers():
    """JPEG B.1.1.2 fill bytes (extra 0xFFs before a marker) and
    standalone RST/TEM markers must not desynchronize the APP1
    walk."""
    from remap_spark.operators.multimodal import parse_exif
    from remap_spark.queries.staged_r8 import _exif_fixture_blob

    base = _exif_fixture_blob(4)
    assert base[0:2] == b"\xff\xd8"
    # inject two fill bytes + a standalone TEM marker before APP1
    patched = base[0:2] + b"\xff\xff" + b"\xff\x01" + base[2:]
    got = parse_exif(patched)
    assert got is not None and got[2] == "Make4" and got[4] == 5


# ---------------------------------------------------------------- wave 3


def test_fd_violations_repair_rows_hand_computed(spark):
    """FD k -> v: key 1 maps to {a: 3, b: 1} (repair 1 of 4 rows),
    key 2 holds (no violation row), key 3 maps to {a:1, b:1, c:1}
    (repair 2 of 3). Worst repair first."""
    from remap_spark.operators.expectations import fd_violations

    rows = (
        [(1, "a")] * 3
        + [(1, "b")]
        + [(2, "z")] * 5
        + [(3, "a"), (3, "b"), (3, "c")]
    )
    df = spark.createDataFrame(rows, "k int, v string")
    got = [
        tuple(r)
        for r in fd_violations(df, "k", "v").collect()
    ]
    assert got == [(3, 3, 3, 2), (1, 4, 2, 1)]


def test_interval_concurrency_touching_intervals_do_not_overlap(spark):
    """[1,5) [5,9) touch but never overlap (max 1); [1,5) [3,7) [4,6)
    stack to 3 starting at t=4. Peak reported at its FIRST instant."""
    from remap_spark.operators.timeseries import interval_concurrency

    df = spark.createDataFrame(
        [("touch", 1, 5), ("touch", 5, 9),
         ("stack", 1, 5), ("stack", 3, 7), ("stack", 4, 6)],
        "g string, s int, e int",
    )
    got = {
        r["g"]: (r["max_concurrent"], r["peak_at"])
        for r in interval_concurrency(df, ["g"], "s", "e").collect()
    }
    assert got == {"touch": (1, 1), "stack": (3, 4)}


def test_phrase_search_repeated_word_phrase(spark):
    """A phrase with a REPEATED word must still require full cover:
    'go go stop' matches doc 1 once; doc 2 has 'go stop' and 'go go'
    but never the full trigram; doc 3 has it twice (overlapping
    occurrences counted at distinct anchors)."""
    from remap_spark.operators.text import phrase_search

    df = spark.createDataFrame(
        [
            (1, "x go go stop y"),
            (2, "go stop x go go y"),
            (3, "go go stop go go stop"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["phrase"], r["doc_id"]): r["n_matches"]
        for r in phrase_search(df, ["go go stop"]).collect()
    }
    assert got == {("go go stop", 1): 1, ("go go stop", 3): 2}


def test_decompose_additive_recovers_constant_plus_seasonal(spark):
    """A pure 'constant + weekly pattern' series decomposes exactly:
    trend = the constant (the 7-row average of one full period),
    seasonal = the zero-centered pattern, residual = 0 on every row
    where the trend is defined."""
    import datetime

    from remap_spark.operators.timeseries import decompose_additive

    pattern = [700, 0, 140, 280, 420, 560, 630]  # mean 390
    base = datetime.date(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=i), 10_000 + pattern[
            (base + datetime.timedelta(days=i)).toordinal() % 7
        ])
        for i in range(28)
    ]
    # phase convention is day-of-epoch mod 7; recompute per-day phase
    # the operator's way so the expected seasonal aligns
    df = spark.createDataFrame(rows, "day date, v long")
    out = decompose_additive(df, "day", "v", period=7).collect()
    assert len(out) == 28
    defined = [r for r in out if r["trend_ppm"] is not None]
    assert len(defined) == 28 - 6
    for r in defined:
        # constant-plus-pattern: trend is the constant + pattern mean
        assert r["trend_ppm"] == (10_000 + 390) * 1_000_000
        assert r["resid_ppm"] == 0
        assert (
            r["value"] * 1_000_000
            == r["trend_ppm"] + r["seasonal_ppm"]
        )
    # seasonal components of one period sum to ~0 (exactly 0 here:
    # the pattern mean 390 is integral)
    seas = {r["seasonal_ppm"] for r in defined}
    assert sum(sorted(seas)) == 0 and len(seas) == 7


def test_textrank_hub_word_ranks_first(spark):
    """A word co-occurring with every other word (the hub) must take
    the top TextRank score; scores are positive and vocabulary-sized
    output."""
    from remap_spark.operators.text import textrank_keywords

    df = spark.createDataFrame(
        [
            (1, "hub alpha hub beta hub gamma hub delta"),
            (2, "alpha hub beta hub gamma hub delta hub"),
        ],
        "doc_id long, text string",
    )
    out = textrank_keywords(df, top_k=10).collect()
    assert out[0]["word"] == "hub"
    assert all(r["score_ppm"] > 0 for r in out)
    assert {r["word"] for r in out} == {
        "hub", "alpha", "beta", "gamma", "delta"
    }


# ---------------------------------------------------------------- wave 4


def test_inclusion_profile_direction_and_partial(spark):
    """fk ⊆ pk gives containment 1e6 one way and 600000 ppm the
    other (3 of 5 pk values referenced); a disjoint column reports
    nothing."""
    from remap_spark.operators.expectations import inclusion_profile

    pk = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5]], "k long")
    fk = spark.createDataFrame(
        [(i,) for i in [1, 1, 2, 2, 3]], "k long"
    )
    other = spark.createDataFrame([(i,) for i in [99]], "k long")
    got = {
        (r["col_a"], r["col_b"]): (
            r["n_shared"], r["n_a_distinct"], r["containment_ppm"]
        )
        for r in inclusion_profile(
            [("pk", pk, "k"), ("fk", fk, "k"), ("other", other, "k")]
        ).collect()
    }
    assert got == {
        ("fk", "pk"): (3, 3, 1_000_000),
        ("pk", "fk"): (3, 5, 600_000),
    }


def test_interpolate_gaps_truncates_toward_zero_on_falling_segment(spark):
    """Values 10 at day 1 and 3 at day 4 (delta -7 over gap 3): the
    interpolated points use truncating division, -7e6 div 3 =
    -2333333 (floor would give -2333334) — pinning the exact-replay
    convention the oracle shares."""
    import datetime

    from remap_spark.operators.timeseries import interpolate_gaps

    d = datetime.date
    df = spark.createDataFrame(
        [("g", d(2024, 1, 1), 10), ("g", d(2024, 1, 4), 3)],
        "g string, day date, v long",
    )
    got = {
        r["day"].day: (r["value_ppm"], r["src"])
        for r in interpolate_gaps(df, ["g"], "day", "v").collect()
    }
    assert got == {
        1: (10_000_000, "obs"),
        2: (10_000_000 - 2_333_333, "interp"),
        3: (10_000_000 - 4_666_666, "interp"),
        4: (3_000_000, "obs"),
    }


def test_trend_slopes_exact_line_and_truncation(spark):
    """y = 100 - 3x recovers slope -3e6 / intercept 1e8 exactly; the
    non-collinear group (0,0),(1,1),(2,3) gives slope 1.5e6 and the
    intercept -1e6/6 truncated toward zero (-166666, not the floored
    -166667); a constant-x degenerate group is dropped."""
    import datetime

    from remap_spark.operators.timeseries import trend_slopes

    d = datetime.date(2024, 1, 1)

    def day(i):
        return d + datetime.timedelta(days=i)

    rows = (
        [("line", day(i), 100 - 3 * i) for i in range(5)]
        + [("kink", day(0), 0), ("kink", day(1), 1), ("kink", day(2), 3)]
        + [("solo", day(0), 7)]
    )
    df = spark.createDataFrame(rows, "g string, day date, v long")
    got = {
        r["g"]: (r["n_obs"], r["slope_ppm"], r["intercept_ppm"])
        for r in trend_slopes(df, ["g"], "day", "v").collect()
    }
    assert got == {
        "line": (5, -3_000_000, 100_000_000),
        "kink": (3, 1_500_000, -166_666),
    }


# ---------------------------------------------------------------- wave 5


def test_cusum_changepoint_level_shift_and_tie(spark):
    """A 0,0,0 -> 10,10,10 level shift peaks |S| at the last low day
    (strength = 90e6 div (6*30) = 500000 ppm); a constant series has
    S = 0 everywhere and the earliest-day tiebreak reports day 1 with
    strength 0."""
    import datetime

    from remap_spark.operators.timeseries import cusum_changepoint

    d = datetime.date(2024, 1, 1)

    def day(i):
        return d + datetime.timedelta(days=i)

    rows = [("shift", day(i), 0 if i < 3 else 10) for i in range(6)]
    rows += [("flat", day(i), 7) for i in range(4)]
    df = spark.createDataFrame(rows, "g string, day date, v long")
    got = {
        r["g"]: (r["cp_at"], r["n_obs"], r["strength_ppm"])
        for r in cusum_changepoint(df, ["g"], "day", "v").collect()
    }
    assert got == {
        "shift": (day(2), 6, 500_000),
        "flat": (day(0), 4, 0),
    }


def test_distribution_drift_hand_computed(spark):
    """ref bins {0:2, 1:2} vs cur bins {0:1, 1:3}, N=4 both sides:
    contrib(0) = (2*4-1*4)^2 * 1e6 / (4*4*3) = 333333 ppm,
    contrib(1) = (2*4-3*4)^2 * 1e6 / (4*4*5) = 200000 ppm; a bin
    present on one side only still reports (zero-filled)."""
    from remap_spark.operators.expectations import distribution_drift

    ref = spark.createDataFrame(
        [(v,) for v in [0, 0, 1, 1]], "v long"
    )
    cur = spark.createDataFrame(
        [(v,) for v in [0, 1, 1, 1, 9]], "v long"
    )
    got = {
        r["bin"]: (r["n_ref"], r["n_cur"], r["contrib_ppm"])
        for r in distribution_drift(ref, cur, "v", 1).collect()
    }
    # N_ref=4, N_cur=5
    # bin0: (2*5-1*4)^2*1e6 / (4*5*3) = 36e6/60  = 600000
    # bin1: (2*5-3*4)^2*1e6 / (4*5*5) = 4e6/100  = 40000
    # bin9: (0*5-1*4)^2*1e6 / (4*5*1) = 16e6/20  = 800000
    assert got == {
        0: (2, 1, 600_000),
        1: (2, 3, 40_000),
        9: (0, 1, 800_000),
    }


def test_distribution_drift_floor_bins_signed_data(spark):
    """FLOOR (not truncate-toward-zero) binning: with width 2 the
    values -3..2 land in bins {-2: [-3,-4), -1: [-2,-1], 0: [0,1],
    1: [2,3]} — under `div` truncation, -1 and 1 would BOTH hit bin 0,
    giving the zero bin double width (the r7-advice finding)."""
    from remap_spark.operators.expectations import distribution_drift

    ref = spark.createDataFrame([(v,) for v in [-3, -2, -1, 0, 1, 2]], "v long")
    got = {
        r["bin"]: r["n_ref"]
        for r in distribution_drift(ref, ref, "v", 2).collect()
    }
    assert got == {-2: 1, -1: 2, 0: 2, 1: 1}


def test_benford_rejects_sub_one_min_value(spark):
    """min_value < 1 floors values to first digit 0, which the 9-row
    expected join drops while the total still counts them — refuse
    instead of deflating every observed_ppm (the r7-advice finding)."""
    import pytest as _pytest

    from remap_spark.operators.expectations import benford_deviation

    df = spark.createDataFrame([(0.5,), (2.0,)], "v double")
    with _pytest.raises(ValueError, match="min_value"):
        benford_deviation(df, "v", min_value=0.1)


def test_golden_records_fields_from_different_rows(spark):
    """One golden record merges fields from THREE different members:
    longest name from row 3, trusted value from row 1 (highest
    score), modal segment 'A' (2 of 3); modal tie in cluster 2 breaks
    by min id."""
    from pyspark.sql import functions as F

    from remap_spark.operators.linkage import (
        golden_records,
        with_group_value_count,
    )

    rows = [
        (1, 10, "bob", 90, "A"),
        (2, 10, "alice", 50, "A"),
        (3, 10, "bartholomew", 10, "B"),
        (4, 20, "zed", 5, "X"),
        (5, 20, "amy", 5, "Y"),
    ]
    df = spark.createDataFrame(
        rows, "id long, cl long, name string, score long, seg string"
    )
    df = with_group_value_count(df, "cl", "seg", "_freq")
    got = {
        r["cluster"]: (
            r["n_members"], r["name"], r["trusted"], r["segment"]
        )
        for r in golden_records(
            df,
            "cl",
            "id",
            {
                "name": ("name", F.length("name")),
                "trusted": ("score", F.col("score")),
                "segment": ("seg", F.col("_freq")),
            },
        ).collect()
    }
    assert got == {
        10: (3, "bartholomew", 90, "A"),
        20: (2, "zed", 5, "X"),  # all ties -> min id (row 4: zed/X)
    }
