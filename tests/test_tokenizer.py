"""BPE merge-learning semantics (value parity lives in test_oracle_parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from collect_mobile_devices_datalake_spark.operators.tokenizer import (
    _initial_symbols,
    _one_merge,
)
from collect_mobile_devices_datalake_spark.registry import REGISTRY, _ensure_loaded

from .conftest import SF_SMOKE

_ensure_loaded()


def _merge_word(spark, word: str) -> list[str]:
    types = spark.createDataFrame([(word, 1)], "word string, freq long")
    _, nxt = _one_merge(_initial_symbols(types))
    return [r.sym for r in nxt.orderBy("pos").collect()]


def test_greedy_overlap_takes_every_other_occurrence(spark):
    # (a,a) over "aaaa": occurrences at 1,2,3 overlap; greedy left-to-right
    # merges 1 and 3 → "aa","aa" (never "aa","a","a" or a triple)
    assert _merge_word(spark, "aaaa") == ["aa", "aa"]
    assert _merge_word(spark, "aaa") == ["aa", "a"]
    assert _merge_word(spark, "aaaaa") == ["aa", "aa", "a"]


def test_nonoverlapping_occurrences_all_merge(spark):
    # (a,b) over "abab": disjoint adjacent occurrences both merge
    assert _merge_word(spark, "abab") == ["ab", "ab"]


def test_merge_weights_are_nonincreasing_and_ranks_complete(spark):
    rows = (
        REGISTRY["bpe_learn_merges"]
        .spark(spark, SF_SMOKE)
        .orderBy("merge_rank")
        .collect()
    )
    assert [r.merge_rank for r in rows] == list(range(1, len(rows) + 1))
    # classic BPE invariant: each chosen pair's weight never exceeds the
    # previous one (new pairs are bounded by the count just merged)
    weights = [r.pair_weight for r in rows]
    assert all(a >= b for a, b in zip(weights, weights[1:])), weights
    assert all(r.merged == r.merge_left + r.merge_right for r in rows)
    assert len({(r.merge_left, r.merge_right) for r in rows}) == len(rows)


def test_later_merges_can_build_on_earlier_symbols(spark):
    # at least one learned rule should consume a multi-char symbol — the
    # signature of real BPE dynamics (e.g. m + er → mer)
    rows = REGISTRY["bpe_learn_merges"].spark(spark, SF_SMOKE).collect()
    assert any(
        len(r.merge_left) > 1 or len(r.merge_right) > 1 for r in rows
    ), [(r.merge_left, r.merge_right) for r in rows]


def test_one_merge_matches_reference_python_on_random_words(spark):
    # batch-compare _one_merge against a straightforward Python BPE
    # iteration (pair counts -> argmax with the same tiebreak -> greedy
    # left-to-right merge) over seeded random words on a tiny alphabet
    # (lots of aa-style overlaps)
    import random

    rng = random.Random(7)
    words = list(
        {
            "".join(rng.choice("ab") for _ in range(rng.randint(1, 10)))
            for _ in range(30)
        }
        | {"".join(rng.choice("abc") for _ in range(rng.randint(2, 12))) for _ in range(30)}
    )
    freqs = {w: rng.randint(1, 9) for w in words}

    # reference: one classic BPE iteration
    seqs = {w: list(w) for w in words}
    counts: dict[tuple[str, str], int] = {}
    for w, s in seqs.items():
        for x, y in zip(s, s[1:]):
            counts[(x, y)] = counts.get((x, y), 0) + freqs[w]
    best = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
    expected = {}
    for w, s in seqs.items():
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                out.append(s[i] + s[i + 1])
                i += 2
            else:
                out.append(s[i])
                i += 1
        expected[w] = out

    types = spark.createDataFrame(
        [(w, freqs[w]) for w in words], "word string, freq long"
    )
    rule, nxt = _one_merge(_initial_symbols(types))
    rrow = rule  # r15: _one_merge returns the collected 1-row argmax directly
    assert (rrow.merge_left, rrow.merge_right) == best
    got = {}
    for r in nxt.orderBy("word", "pos").collect():
        got.setdefault(r.word, []).append(r.sym)
    assert got == expected


def test_array_loop_equals_reference_forms(spark):
    """r16: the array-per-word production iteration (`_one_merge_arr` —
    argmax from one explode+aggregation, rebuild as a per-row greedy
    fold) must produce the exact rules AND symbol tables of the
    windowed row-per-position reference forms (`_one_merge` /
    `_one_wp_merge`) across a full multi-iteration loop, for both
    criteria, on an overlap/tie-heavy fixture — and agree on the
    degenerate single-char corpus (None rule → empty table)."""
    import random

    from collect_mobile_devices_datalake_spark.operators.tokenizer import (
        _initial_symbol_arrays,
        _initial_wp_symbols,
        _one_merge_arr,
        _one_wp_merge,
    )
    from pyspark.sql import functions as SF

    rng = random.Random(21)
    words = list(
        {"".join(rng.choice("ab") for _ in range(rng.randint(1, 9))) for _ in range(25)}
        | {"".join(rng.choice("abc") for _ in range(rng.randint(2, 11))) for _ in range(25)}
    )
    types = spark.createDataFrame(
        [(w, rng.randint(1, 9)) for w in words], "word string, freq long"
    )

    def _ref_table(df):
        return sorted(
            (r.word, r.freq, r.pos, r.sym)
            for r in df.select("word", "freq", "pos", "sym").collect()
        )

    def _arr_table(df):
        ex = df.select(
            "word", "freq", SF.posexplode("a").alias("pos0", "sym")
        ).select("word", "freq", (SF.col("pos0") + 1).alias("pos"), "sym")
        return sorted((r.word, r.freq, r.pos, r.sym) for r in ex.collect())

    for wp in (False, True):
        ref = (
            _initial_wp_symbols(types) if wp else _initial_symbols(types)
        ).localCheckpoint(eager=True)
        arr = _initial_symbol_arrays(types, wp=wp).localCheckpoint(eager=True)
        for _ in range(4):
            want_rule, ref = (_one_wp_merge if wp else _one_merge)(ref)
            got_rule, arr = _one_merge_arr(arr, wp=wp)
            assert (want_rule is None) == (got_rule is None)
            if want_rule is not None:
                assert (
                    want_rule.merge_left,
                    want_rule.merge_right,
                    want_rule.pair_weight,
                ) == (
                    got_rule["merge_left"],
                    got_rule["merge_right"],
                    got_rule["pair_weight"],
                )
                if wp:
                    assert (want_rule.left_weight, want_rule.right_weight) == (
                        got_rule["left_weight"],
                        got_rule["right_weight"],
                    )
            assert _ref_table(ref) == _arr_table(arr)

    # degenerate: single-char corpus — no adjacent pair anywhere
    solo = spark.createDataFrame([("a", 3), ("b", 1)], "word string, freq long")
    rule, t = _one_merge_arr(_initial_symbol_arrays(solo).localCheckpoint(eager=True))
    assert rule is None and t.count() == 0
    # empty-string word types: split('', '') yields [''] in both forms —
    # the array table matches the posexplode table row for row
    empt = spark.createDataFrame([("", 5), ("ab", 1)], "word string, freq long")
    assert _arr_table(_initial_symbol_arrays(empt)) == _ref_table(
        _initial_symbols(empt)
    )


def test_greedy_merge_fold_is_ansi_safe_at_the_last_symbol(spark):
    """A word whose LAST symbol equals the rule's left side makes the
    fold look one past the end (a[i + 1]); under ANSI mode that lookup
    must not raise, and the fold must still agree with a plain Python
    greedy left-to-right merge."""
    from collect_mobile_devices_datalake_spark.operators.tokenizer import (
        _greedy_merge_col,
    )

    def greedy(syms, left, right):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (left, right):
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    words = [list("aba"), list("ba"), list("a"), list("abab"), list("aaa")]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for left, right in (("a", "b"), ("a", "a")):
            got = [
                r.out
                for r in spark.createDataFrame([(w,) for w in words], "a array<string>")
                .select(_greedy_merge_col(F.col("a"), left, right, left + right).alias("out"))
                .collect()
            ]
            assert got == [greedy(w, left, right) for w in words]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_unigram_lm_dp_is_optimal_vs_bruteforce(spark):
    """Independent check of the Viterbi DP: exhaustively enumerate every
    segmentation of every word (<= 2^(len-1) splits, len <= 8) in Python
    and verify the DP found the minimum (bits, n_segments, path) — a
    different algorithm than both the Spark DP and the unrolled SQL DP."""
    from itertools import combinations

    from collect_mobile_devices_datalake_spark.operators.tokenizer import (
        UNI_SEG_MAX,
        _unigram_vocab_frames,
        q_unigram_lm_segmentation,
    )

    sf = "/root/testdata/sf0.001"
    _, vc = _unigram_vocab_frames(spark, sf)
    cost = {r["sub"]: r["cost"] for r in vc.collect()}

    def best(word):
        n = len(word)
        cands = []
        for k in range(n):  # choose split points among n-1 gaps
            for cuts in combinations(range(1, n), k):
                bounds = [0, *cuts, n]
                segs = [word[a:b] for a, b in zip(bounds, bounds[1:])]
                if any(len(s) > UNI_SEG_MAX or s not in cost for s in segs):
                    continue
                cands.append((sum(cost[s] for s in segs), len(segs), " ".join(segs)))
        return min(cands)

    rows = q_unigram_lm_segmentation(spark, sf).collect()
    assert rows
    for r in rows:
        b, ns, path = best(r["word"])
        assert (r["total_bits"], r["n_segments"], r["segmentation"]) == (b, ns, path), r["word"]


# --- WordPiece (wordpiece_learn_merges / wordpiece_corpus_encoding) ----------


def test_wordpiece_one_merge_matches_reference_python(spark):
    """_one_wp_merge against a from-scratch Python WordPiece iteration:
    '##'-marked symbols, likelihood score pair/(left*right) with the
    (score DESC, left, right) tiebreak, greedy left-to-right merge."""
    import random
    from fractions import Fraction

    from collect_mobile_devices_datalake_spark.operators.tokenizer import (
        _initial_wp_symbols,
        _one_wp_merge,
    )

    rng = random.Random(13)
    words = list(
        {
            "".join(rng.choice("ab") for _ in range(rng.randint(1, 10)))
            for _ in range(30)
        }
        | {"".join(rng.choice("abc") for _ in range(rng.randint(2, 12))) for _ in range(30)}
    )
    freqs = {w: rng.randint(1, 9) for w in words}

    seqs = {
        w: [w[0]] + ["##" + ch for ch in w[1:]] for w in words
    }
    pair_counts: dict[tuple[str, str], int] = {}
    sym_counts: dict[str, int] = {}
    for w, s in seqs.items():
        for x in s:
            sym_counts[x] = sym_counts.get(x, 0) + freqs[w]
        for x, y in zip(s, s[1:]):
            pair_counts[(x, y)] = pair_counts.get((x, y), 0) + freqs[w]
    # exact-rational score comparison (the engines use one IEEE division
    # of exact ints; Fraction ordering can only differ from float
    # ordering on ties closer than 1 ulp — none exist on this fixture,
    # and the (left, right) tiebreak pins exact ties)
    best = min(
        pair_counts.items(),
        key=lambda kv: (
            -Fraction(kv[1], sym_counts[kv[0][0]] * sym_counts[kv[0][1]]),
            kv[0][0],
            kv[0][1],
        ),
    )[0]
    expected = {}
    for w, s in seqs.items():
        out, i = [], 0
        while i < len(s):
            if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                out.append(s[i] + s[i + 1][2:])
                i += 2
            else:
                out.append(s[i])
                i += 1
        expected[w] = out

    types = spark.createDataFrame(
        [(w, freqs[w]) for w in words], "word string, freq long"
    )
    rule, nxt = _one_wp_merge(_initial_wp_symbols(types))
    rrow = rule  # r15: collected 1-row argmax
    assert (rrow.merge_left, rrow.merge_right) == best
    assert rrow.pair_weight == pair_counts[best]
    assert rrow.left_weight == sym_counts[best[0]]
    assert rrow.right_weight == sym_counts[best[1]]
    got = {}
    for r in nxt.orderBy("word", "pos").collect():
        got.setdefault(r.word, []).append(r.sym)
    assert got == expected


def test_wordpiece_differs_from_bpe_criterion(spark):
    """The likelihood criterion must be able to pick a DIFFERENT pair
    than raw-count BPE: 'ab' everywhere (high count, high denominators)
    vs 'cd' rare but exclusive (count == left*right/d, high score)."""
    from collect_mobile_devices_datalake_spark.operators.tokenizer import (
        _initial_wp_symbols,
        _one_wp_merge,
    )

    # 'ab' pair count 20 but a,b each appear 40 (score 20/1600);
    # 'cd' pair count 2, c,d appear only there (score 2/4)
    types = spark.createDataFrame(
        [("ab", 20), ("ba", 20), ("cd", 2)], "word string, freq long"
    )
    rule, _ = _one_wp_merge(_initial_wp_symbols(types))
    r = rule  # r15: collected 1-row argmax
    assert (r.merge_left, r.merge_right) == ("c", "##d")


def test_wordpiece_merge_ranks_complete_and_marks_consistent(spark):
    rows = (
        REGISTRY["wordpiece_learn_merges"]
        .spark(spark, SF_SMOKE)
        .orderBy("merge_rank")
        .collect()
    )
    from collect_mobile_devices_datalake_spark.operators.tokenizer import WP_MERGES

    assert [r.merge_rank for r in rows] == list(range(1, WP_MERGES + 1))
    for r in rows:
        # rights are always word-internal units
        assert r.merge_right.startswith("##")
        # the merged unit strips exactly the right's continuation mark
        assert r.merged == r.merge_left + r.merge_right[2:]
        assert 0 < r.pair_weight <= min(r.left_weight, r.right_weight)


def test_wordpiece_encoding_conserves_chars_and_bounds_tokens(spark):
    """Cross-op invariant: per doc, n_chars equals the whitespace
    tokenization's total char count (conservation through the persisted
    segment artifact) and word_count <= wp_tokens <= n_chars."""
    enc = {
        r.doc_id: r
        for r in REGISTRY["wordpiece_corpus_encoding"].spark(spark, SF_SMOKE).collect()
    }
    from collect_mobile_devices_datalake_spark.session import load_table

    docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "text").collect()
    assert set(enc) == {r.doc_id for r in docs}
    for r in docs:
        words = r.text.split()
        e = enc[r.doc_id]
        assert e.n_words == len(words)
        assert e.n_chars == sum(len(w) for w in words)
        assert e.n_words <= e.n_wp_tokens <= e.n_chars


def test_wordpiece_maxmunch_matches_python_and_is_lossless(spark):
    """The pointer-doubling max-munch equals a from-scratch sequential
    Python greedy longest-match against the SAME learned vocabulary, and
    stripping the '##' marks reassembles every word exactly."""
    from collect_mobile_devices_datalake_spark.operators.tokenizer import (
        _wp_vocab,
    )
    from collect_mobile_devices_datalake_spark.session import load_table

    docs = load_table(spark, "documents", SF_SMOKE)
    vocab = {r.sym for r in _wp_vocab(spark, docs).collect()}
    got = {
        r.word: r
        for r in REGISTRY["wordpiece_maxmunch_encoding"].spark(spark, SF_SMOKE).collect()
    }
    words = {
        r.word: r.freq
        for r in docs.selectExpr("explode(split(trim(text), '\\\\s+')) AS word")
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "freq")
        .collect()
    }
    assert set(got) == set(words)
    for w in words:
        toks, i = [], 0
        while i < len(w):
            for l in range(len(w) - i, 0, -1):
                t = w[i : i + l] if i == 0 else "##" + w[i : i + l]
                if t in vocab:
                    toks.append(t)
                    i += l
                    break
            else:
                raise AssertionError(f"no vocab match in {w!r} at {i}")
        r = got[w]
        assert r.segmentation == " ".join(toks), (w, r.segmentation, toks)
        assert r.n_tokens == len(toks)
        assert r.n_chars == len(w)
        assert "".join(t[2:] if t.startswith("##") else t for t in toks) == w
