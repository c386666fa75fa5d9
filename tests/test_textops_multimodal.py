"""Tests for text-analysis operators and multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from employee_activity_etl_poc_spark.operators import multimodal as M
from employee_activity_etl_poc_spark.operators import textops as TX


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_lang_id(spark):
    assert _one(spark, TX.lang_id(F.lit("the cat sat on a mat in the sun"))) == "en"
    assert _one(spark, TX.lang_id(F.lit("le chat et la souris de un jardin"))) == "fr"
    assert _one(spark, TX.lang_id(F.lit("der hund und die katze und das haus"))) == "de"
    assert _one(spark, TX.lang_id(F.lit("zzz qqq www"))) == "unknown"


def test_token_counts(spark):
    assert _one(spark, TX.n_tokens(F.lit("a b c"))) == 3
    # bpe-ish: letters run, digits run, symbol
    assert _one(spark, TX.bpe_ish_token_count(F.lit("abc 123 x!"))) == 4


def test_quality_score_bounds(spark):
    score = _one(spark, TX.quality_score(F.lit("the cat sat on the mat and it was good")))
    assert 0.0 <= score <= 1.0


def test_fingerprint_stable_and_sensitive(spark):
    a = _one(spark, TX.doc_fingerprint(F.lit("a b c d e")))
    b = _one(spark, TX.doc_fingerprint(F.lit("a b c d e")))
    c = _one(spark, TX.doc_fingerprint(F.lit("a b c d f")))
    assert a == b
    assert len(a) == 32  # md5 hex
    # differing tail shingle usually changes the min — not guaranteed, but
    # both docs share only 2 of 3 shingles; equality would mean min came
    # from a shared shingle, which is fine; just assert determinism + shape
    assert isinstance(c, str)


def test_jaccard(spark):
    j = _one(
        spark,
        TX.jaccard(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            F.array(F.lit("b"), F.lit("c"), F.lit("d")),
        ),
    )
    assert abs(j - 0.5) < 1e-12


def test_media_metadata_stub(spark):
    docs = spark.createDataFrame([(0, "hello"), (1, "worlds!")], "doc_id long, text string")
    out = M.extract_media_metadata(M.attach_payload(docs)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["n_bytes"] == 5 and by_id[0]["fmt"] == "png"
    assert by_id[1]["n_bytes"] == 7 and by_id[1]["fmt"] == "jpeg"
    assert by_id[0]["width"] == 64 + 5 % 577


def test_frame_sample_plan(spark):
    meta = spark.createDataFrame([(1, 25)], "doc_id long, n_frames long")
    frames = [r["frame_idx"] for r in M.frame_sample_plan(meta, every_n=10).collect()]
    assert frames == [0, 10, 20]


def test_repetition_features_known_values(spark):
    from employee_activity_etl_poc_spark.operators.textops import (
        repetition_features,
    )

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "x")], "doc_id long, text string"
    )
    rep = repetition_features(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            rep["dup_token_frac"].alias("d1"),
            rep["dup_2gram_frac"].alias("d2"),
            rep["dup_3gram_frac"].alias("d3"),
        ).collect()
    }
    assert rows[1]["d1"] == 0.75 and rows[1]["d2"] == pytest.approx(2 / 3)
    assert rows[2]["d1"] == rows[2]["d2"] == rows[2]["d3"] == 0.0
    # single token: no 2-grams -> defined as 0, not negative/null
    assert rows[3]["d2"] == 0.0 and rows[3]["d3"] == 0.0


def test_ngram_decontaminate_planted_overlap(spark):
    from employee_activity_etl_poc_spark.operators.textops import (
        ngram_decontaminate,
    )

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, shared + " tail words here"),
            (2, "totally different words with no overlap at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, shared + " other suffix")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in ngram_decontaminate(docs, bench, "text", "doc_id", n=8).collect()}
    assert out[1]["contaminated"] and out[1]["n_hits"] == 1
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    # denominators are the docs' own distinct-gram counts
    assert out[1]["n_grams"] == 4 and out[2]["n_grams"] == 2


def test_ngram_decontaminate_excludes_self(spark):
    from employee_activity_etl_poc_spark.operators.textops import (
        ngram_decontaminate,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    # the doc IS the benchmark entry: self-collisions must not count
    same = ngram_decontaminate(docs, docs, "text", "doc_id", n=8).collect()[0]
    assert same["n_hits"] == 0 and not same["contaminated"]
    kept = ngram_decontaminate(
        docs, docs, "text", "doc_id", n=8, exclude_self=False
    ).collect()[0]
    assert kept["n_hits"] == 2 and kept["contaminated"]


def test_compression_ratio_separates_spam_from_prose(spark):
    """Repetitive (spammy) text compresses far better than varied text;
    ratios are deterministic and bounded (0, ~1.1]."""
    from employee_activity_etl_poc_spark.operators.textops import (
        compression_ratio_features,
    )

    spam = " ".join(["buy cheap now"] * 80)
    prose = " ".join(f"w{i}x{i * 7 % 97}" for i in range(240))
    df = spark.createDataFrame([(1, spam), (2, prose)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in compression_ratio_features(df, "text", "doc_id").collect()}
    assert out[1]["ratio"] < 0.1, out[1]
    assert out[2]["ratio"] > 0.3, out[2]
    for r in out.values():
        assert r["n_compressed"] > 0 and 0 < r["ratio"] <= 1.1
        assert r["n_bytes"] == len(("" if r is None else "")) or r["n_bytes"] > 0
    # determinism
    again = {r["doc_id"]: r["ratio"] for r in compression_ratio_features(df, "text", "doc_id").collect()}
    assert again == {k: v["ratio"] for k, v in out.items()}


def test_bm25_hand_computed_and_monotone(spark):
    """BM25 against a hand-computed score (one doc, one hit term) and the
    two core monotonicities: more matched query terms -> higher score;
    for equal tf, longer docs score LOWER (length normalization)."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "spark spark runs fast"),          # tf(spark)=2, dl=4
            (2, "spark vector hash engine"),        # 3 distinct hits, dl=4
            (3, "spark a b c d e f g h i j k"),     # tf=1, dl=12 (long)
            (4, "spark x y z"),                      # tf=1, dl=4 (short)
            (5, "nothing relevant here at all"),     # 0 hits -> absent
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in TX.bm25_scores(
            docs, "text", "doc_id", ("spark", "vector", "hash")
        ).collect()
    }
    assert 5 not in out                       # no query term, no row
    assert out[2]["n_hits"] == 3 and out[1]["n_hits"] == 1
    # hand computation for doc 4's single term: N=5, df(spark)=4,
    # avgdl=(4+4+12+4+5)/5, tf=1, k1=1.2, b=0.75
    n, df_t, tf, dl, avgdl = 5, 4, 1, 4, 29 / 5
    idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
    expected = idf * (tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))
    expected = math.floor(expected * 1e6 + 0.5) / 1e6
    assert abs(out[4]["bm25"] - expected) < 1e-9, (out[4]["bm25"], expected)
    # length normalization: same tf, longer doc scores lower
    assert out[3]["bm25"] < out[4]["bm25"]
    # more matched terms beats one matched term at comparable length
    assert out[2]["bm25"] > out[4]["bm25"]


def test_unigram_nll_flags_rare_token_docs(spark):
    """The CCNet-style LM filter: a doc made of corpus-rare tokens must
    score a higher avg_nll than a doc of corpus-common tokens; dl is the
    exact token count; values replay from the closed-form model."""
    import math

    rows = [(i, "common words appear here often") for i in range(1, 9)]
    rows.append((9, "zyx qwv jkl"))  # three corpus-hapax tokens
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in TX.unigram_nll(docs, "text", "doc_id").collect()
    }
    assert out[1]["dl"] == 5 and out[9]["dl"] == 3
    assert out[9]["avg_nll"] > out[1]["avg_nll"]
    # closed form for doc 9: V=8 terms (5 common + 3 hapax), T=43 tokens,
    # each hapax has c=1 -> P = (1+.5)/(43+.5*8); per-term grid pin then
    # exact average
    p = (1 + 0.5) / (43 + 0.5 * 8)
    per_tok = math.floor(-math.log(p) * 1e6 + 0.5)
    expected = math.floor(3 * per_tok / 3 + 0.5) / 1e6
    assert abs(out[9]["avg_nll"] - expected) < 1e-9


def test_gopher_rules_hand_computed(spark):
    """Each Gopher rule against hand-built violators: an all-bulleted doc
    fails the 90% bullet rule, an all-ellipsis doc fails the ellipsis AND
    symbol rules, a short doc fails the word-count rule, and a clean long
    doc keeps. Metric values replay the exact count arithmetic."""
    docs = spark.createDataFrame(
        [
            # 14 words incl the two '-' bullets; both lines bulleted
            (1, "- the cat sat\n- and that dog ran off with a bone today"),
            # every line ends '...': ellipsis ratio 1.0; 3 '...' / 9 words
            (2, "aaa bbb ...\nccc ddd ...\neee fff ..."),
            # 60 words, all alpha, >=2 stopwords, no symbols
            (3, " ".join(["the", "of", "and", "with", "word"] * 12)),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in TX.gopher_quality_rules(docs, "text", "doc_id").collect()
    }
    d1 = out[1]
    assert d1["n_words"] == 14 and d1["bullet_ratio"] == 1.0
    assert d1["ok_bullets"] == 0 and d1["ok_words"] == 0
    # mean word length: 41 non-ws chars / 14 words, floor-HALF_UP 1e-4
    import math

    assert d1["mean_word_len"] == math.floor(41 / 14 * 1e4 + 0.5) / 1e4
    d2 = out[2]
    assert d2["ellipsis_ratio"] == 1.0 and d2["ok_ellipsis"] == 0
    assert d2["symbol_ratio"] == math.floor(3 / 9 * 1e4 + 0.5) / 1e4
    assert d2["ok_symbols"] == 0
    # '...' tokens carry no alphabetic char: 6/9 alpha -> fails 80%
    assert d2["ok_alpha"] == 0
    d3 = out[3]
    assert d3["n_words"] == 60 and d3["keep"] == 1
    assert d3["alpha_ratio"] == 1.0 and d3["n_stop"] == 4


def test_gopher_rules_empty_doc_rejected_not_null(spark):
    """Zero-word documents (empty / whitespace-only) must come back
    keep=0 with 0.0 per-word ratios — NOT NULL (the non-ANSI divide-by-
    zero trap): a quality filter's clearest reject class is exactly the
    doc that would otherwise NULL its way through the gate (r10 advice)."""
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\n\n")],
        "doc_id long, text string",
    )
    out = TX.gopher_quality_rules(docs, "text", "doc_id").collect()
    assert len(out) == 3
    for r in out:
        assert r["n_words"] == 0
        assert r["keep"] == 0  # rejected, not NULL
        for c in ("mean_word_len", "symbol_ratio", "alpha_ratio"):
            assert r[c] == 0.0
        for c in ("ok_words", "ok_mean_wl", "ok_symbols", "ok_alpha"):
            assert r[c] == 0
        # no column may be NULL — every flag and ratio is decided
        assert all(v is not None for v in r.asDict().values())


def test_token_entropy_hand_computed_and_ordering(spark):
    """Uniform-distribution docs hit norm_entropy 1.0; a doc repeating
    one token concentrates mass and scores lower entropy than a uniform
    doc of the same length; values replay the grid-pinned closed form."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),              # 8 distinct, uniform
            (2, "x x x x x x x y"),              # concentrated
            (3, " ".join(["u", "v", "w", "z", "q"] * 12)),  # 5x12 uniform
            (4, "solo"),                          # dl=1 -> zeros
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in TX.token_entropy(docs, "text", "doc_id").collect()
    }
    assert out[1]["norm_entropy"] == 1.0 and out[1]["n_unique"] == 8
    assert out[4]["entropy"] == 0.0 and out[4]["norm_entropy"] == 0.0
    assert out[2]["entropy"] < out[1]["entropy"]
    # closed form for doc 3: dl=60, five terms tf=12
    s6 = 5 * math.floor(12 * math.log(12) * 1e6 + 0.5)
    expected = math.floor((math.log(60) - s6 / 1e6 / 60) * 1e6 + 0.5) / 1e6
    assert abs(out[3]["entropy"] - expected) < 1e-9
    assert out[3]["dl"] == 60 and out[3]["n_unique"] == 5


def test_dsir_importance_tilts_toward_target(spark):
    """DSIR: docs made of target-slice vocabulary score higher logw than
    docs of off-target vocabulary, and the values replay the closed-form
    hashed-ngram model (md5-bucket counts + add-0.5 smoothing + 1e-6
    grid) computed independently in Python."""
    import hashlib
    import math
    from collections import Counter

    rows = [
        (1, 1, "tgt alpha tgt beta"),
        (2, 1, "tgt gamma tgt alpha"),
        (3, 0, "raw delta raw epsilon"),
        (4, 0, "raw zeta raw delta"),
        (5, 0, "tgt alpha tgt beta"),   # raw doc with target-y content
    ]
    docs = spark.createDataFrame(rows, "doc_id long, tgt int, text string")
    out = {
        r["doc_id"]: r
        for r in TX.dsir_importance(
            docs, "text", "doc_id", target=F.col("tgt") == 1
        ).collect()
    }

    def bucket(f: str) -> int:
        return int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % 1024

    def feats(text: str) -> list[int]:
        ws = text.split(" ")
        bi = [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
        return [bucket(f) for f in ws + bi]

    cr: Counter = Counter()
    ct: Counter = Counter()
    for _, tgt, text in rows:
        for b in feats(text):
            cr[b] += 1
            if tgt:
                ct[b] += 1
    tr, tt = sum(cr.values()), sum(ct.values())
    B, a = 1024, 0.5

    def logw(text: str) -> float:
        s6 = 0
        for b, c in Counter(feats(text)).items():
            contrib = c * (
                math.log((ct[b] + a) / (tt + a * B))
                - math.log((cr[b] + a) / (tr + a * B))
            )
            s6 += math.floor(contrib * 1e6 + 0.5)
        return s6 / 1e6

    for doc_id, _, text in rows:
        assert abs(out[doc_id]["logw"] - logw(text)) < 1e-9, doc_id
        assert out[doc_id]["n_feats"] == 2 * len(text.split()) - 1
    # the tilt: pure-target content outranks pure-raw content, and the
    # raw doc with target-y text (doc 5) ranks with the target docs
    assert out[1]["logw"] > out[3]["logw"]
    assert out[5]["logw"] == out[1]["logw"]


def test_bigram_nll_flags_shuffled_transitions(spark):
    """The bigram LM separates what the unigram model cannot: two docs
    with IDENTICAL token multisets score differently when one follows
    the corpus's dominant transitions and the other shuffles them; and
    the values replay the interpolated closed form."""
    import math
    from collections import Counter

    rows = [(i, ("a b c " * 14).strip()) for i in range(1, 7)]  # a->b->c->a
    rows.append((7, ("a b c " * 14).strip()))                   # natural
    rows.append((8, ("c b a " * 14).strip()))                   # reversed cycle
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r for r in TX.bigram_nll(docs, "text", "doc_id").collect()
    }
    # same unigram content, reversed transitions
    uni = {r["doc_id"]: r for r in TX.unigram_nll(docs, "text", "doc_id").collect()}
    assert uni[7]["avg_nll"] == uni[8]["avg_nll"]
    assert out[8]["avg_nll"] > out[7]["avg_nll"]
    assert out[7]["n_bigrams"] == 41
    # closed-form replay for doc 7: corpus bigram counts
    c2: Counter = Counter(); c1: Counter = Counter(); cu: Counter = Counter()
    for _, text in rows:
        ws = text.split(" ")
        for x, y in zip(ws, ws[1:]):
            c2[(x, y)] += 1; c1[x] += 1
        for t in ws:
            cu[t] += 1
    T, V = sum(cu.values()), len(cu)
    ws = rows[6][1].split(" ")
    s6 = 0
    for (x, y), tf in Counter(zip(ws, ws[1:])).items():
        p = 0.7 * c2[(x, y)] / c1[x] + (1.0 - 0.7) * (cu[y] + 0.5) / (T + 0.5 * V)
        s6 += math.floor(-tf * math.log(p) * 1e6 + 0.5)
    expected = math.floor(s6 / 41 + 0.5) / 1e6
    assert abs(out[7]["avg_nll"] - expected) < 1e-9


def test_zipf_fit_recovers_known_exponent(spark):
    """A synthetic corpus built with counts c(r) = round(1000 / r)
    (exact Zipf s=1) fits slope ~1 with high r²; a uniform-frequency
    corpus fits slope ~0. Values replay the closed-form OLS on the
    1e-4 grid."""
    import math

    terms = [f"t{i:03d}" for i in range(1, 41)]
    zipf_text = " ".join(
        " ".join([t] * max(1, round(1000 / r)))
        for r, t in enumerate(terms, start=1)
    )
    uni_text = " ".join(" ".join([t] * 25) for t in terms)
    zdf = spark.createDataFrame([(1, zipf_text)], "doc_id long, text string")
    udf_ = spark.createDataFrame([(1, uni_text)], "doc_id long, text string")
    z = TX.zipf_fit(zdf, "text", "doc_id").collect()[0]
    u = TX.zipf_fit(udf_, "text", "doc_id").collect()[0]
    assert z["v_size"] == 40 and u["v_size"] == 40
    assert 0.9 < z["slope_s"] < 1.1 and z["r2"] > 0.97
    assert abs(u["slope_s"]) < 0.05
    # closed-form replay for the zipf corpus
    xs, ys = [], []
    for r, t in enumerate(terms, start=1):
        c = max(1, round(1000 / r))
        xs.append(math.floor(math.log(r) * 1e4 + 0.5) / 1e4)
        ys.append(math.floor(math.log(c) * 1e4 + 0.5) / 1e4)
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    expected = math.floor(-slope * 1e6 + 0.5) / 1e6
    assert abs(z["slope_s"] - expected) < 2e-6


def test_quality_classifier_learns_separable_toy(spark):
    """Two disjoint vocabularies, labels aligned with them: after the
    3 full-batch steps the positive-class docs must score strictly above
    every negative-class doc and preds must match labels (the filter
    genuinely learns — it is not a pass-through)."""
    pos = [(i, "good clean prose text", 1) for i in range(10)]
    neg = [(100 + i, "spam junk noise garbage", 0) for i in range(10)]
    docs = spark.createDataFrame(
        pos + neg, "doc_id long, text string, y int"
    )
    out = TX.quality_classifier(
        docs, "text", "doc_id", label=F.col("y") == 1, lr=50.0
    ).collect()
    assert len(out) == 20
    lo = max(r["score"] for r in out if r["label"] == 0)
    hi = min(r["score"] for r in out if r["label"] == 1)
    assert hi > lo
    assert all(r["pred"] == r["label"] for r in out)
    # scores live on the 1e-6 grid
    for r in out:
        assert abs(r["score"] * 1e6 - round(r["score"] * 1e6)) < 1e-6


def test_quality_classifier_partition_invariant_and_featureless(spark):
    """Full-batch training is order/partition-invariant: training on a
    repartitioned input yields bit-identical scores. A NULL-text doc
    still comes out (n_feats=0, scored at the learned bias)."""
    rows = [(i, f"alpha{i % 3} beta common words here", i % 2) for i in range(12)]
    rows.append((99, None, 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, y int")
    a = TX.quality_classifier(
        docs, "text", "doc_id", label=F.col("y") == 1
    ).collect()
    b = TX.quality_classifier(
        docs.repartition(7, "doc_id"), "text", "doc_id",
        label=F.col("y") == 1,
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    null_doc = [r for r in a if r["doc_id"] == 99]
    assert len(null_doc) == 1 and null_doc[0]["n_feats"] == 0
    assert null_doc[0]["score"] is not None


def test_perplexity_buckets_exact_terciles_per_lang(spark):
    """Buckets are exact per-language terciles on (avg_nll, doc_id)
    order: each language splits 2/2/2 regardless of the other
    language's perplexity range (the cross-language comparability point
    of per-lang ranking), keep = head+middle only."""
    rows = []
    # 6 'en' docs with increasing repetition (higher NLL = rarer terms)
    for i in range(6):
        rows.append((i, " ".join(f"en{i}w{j}" for j in range(4)) + " the the", "en"))
    # 6 'fr' docs sharing a disjoint vocabulary
    for i in range(6):
        rows.append((100 + i, " ".join(f"fr{i}w{j}" for j in range(4)) + " le le", "fr"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = TX.perplexity_buckets(docs, "text", "doc_id", "lang").collect()
    assert len(out) == 12
    from collections import Counter

    by_lang = Counter((r["lang"], r["bucket"]) for r in out)
    for lang in ("en", "fr"):
        assert by_lang[(lang, 0)] == 2
        assert by_lang[(lang, 1)] == 2
        assert by_lang[(lang, 2)] == 2
    for r in out:
        assert r["keep"] == (1 if r["bucket"] < 2 else 0)
        assert r["bucket_label"] == {0: "head", 1: "middle", 2: "tail"}[r["bucket"]]
    # within a language, buckets are monotone in avg_nll
    en = sorted((r["avg_nll"], r["doc_id"], r["bucket"]) for r in out if r["lang"] == "en")
    assert [b for _, _, b in en] == sorted(b for _, _, b in en)


def test_classifier_model_store_roundtrip_and_guards(spark, tmp_path):
    """Weight artifact lifecycle: grid-unit weights round-trip
    bit-exactly through parquet; scoring under the reloaded weights
    equals the fresh-trained output exactly; truncated/foreign
    artifacts are rejected loudly."""
    import pytest as _pytest

    from employee_activity_etl_poc_spark.operators.model_store import (
        load_classifier_artifact,
        save_classifier,
    )

    rows = [(i, f"alpha{i % 4} beta common words here there", i % 2) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y int")
    model: dict = {}
    fresh = TX.quality_classifier(
        docs, "text", "doc_id", label=F.col("y") == 1, model_out=model
    ).collect()
    assert len(model["w6"]) == 1024 and isinstance(model["b6"], int)
    path = str(tmp_path / "qc_model")
    save_classifier(spark, path, model["w6"], model["b6"])
    art = load_classifier_artifact(spark, path)
    w6, b6 = art["w6"], art["b6"]
    assert w6 == model["w6"] and b6 == model["b6"]  # bit-exact ints
    scored = TX.score_quality_classifier(
        docs, "text", "doc_id", label=F.col("y") == 1, w6=w6, b6=b6
    ).collect()
    assert sorted(map(tuple, scored)) == sorted(map(tuple, fresh))
    # foreign parquet (no sentinels) rejected
    bad = str(tmp_path / "not_a_model")
    spark.range(3).selectExpr("id AS b", "id AS w6").write.parquet(bad)
    with _pytest.raises(ValueError, match="sentinel"):
        load_classifier_artifact(spark, bad)
    # truncated artifact (weight rows missing) rejected
    trunc = str(tmp_path / "truncated")
    from employee_activity_etl_poc_spark.localrel import local_df

    local_df(
        spark, [(-2, 1024), (-1, 0), (0, 5)], "b long, w6 long"
    ).write.parquet(trunc)
    with _pytest.raises(ValueError, match="truncated"):
        load_classifier_artifact(spark, trunc)


def _py_bpe(texts: list[str], n_merges: int) -> list[tuple]:
    """Reference greedy BPE (Sennrich et al. 2016) — the algorithm
    bpe_merge_table must replay exactly."""
    import collections

    words = collections.Counter(w for t in texts for w in t.split(" ") if w)
    vocab = {w: list(w) for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = collections.Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += words[w]
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, l + r, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_merge_table_replays_reference_greedy(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest wide",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (m["rank"], m["lhs"], m["rhs"], m["merged"], m["pair_count"])
        for m in TX.bpe_merge_table(df, "text", n_merges=5)
    ]
    assert got == _py_bpe(texts, 5)


def test_bpe_merge_greedy_run_semantics(spark):
    # a run of k identical symbols fuses floor(k/2) pairs anchored at the
    # head — the l = r case where a naive pairwise replace diverges
    df = spark.createDataFrame([("aaaa aaa",)], "text string")
    merges = TX.bpe_merge_table(df, "text", n_merges=1)
    assert (merges[0]["lhs"], merges[0]["rhs"]) == ("a", "a")
    # aaaa has 3 adjacent pairs, aaa has 2 -> weighted count 5
    assert merges[0]["pair_count"] == 5
    out = spark.createDataFrame([("aaaa",), ("aaa",), ("a",)], "word string").select(
        TX.bpe_tokenize("word", merges).alias("s")
    ).collect()
    assert [r["s"] for r in out] == [["aa", "aa"], ["aa", "a"], ["a"]]


def test_bpe_tokenize_chains_merges_in_rank_order(spark):
    # corpus engineered so merge 1 = (a,b), merge 2 = (ab,c): the second
    # merge consumes the first's output symbol
    df = spark.createDataFrame([("abc abc abc ab",)], "text string")
    merges = TX.bpe_merge_table(df, "text", n_merges=2)
    assert [(m["lhs"], m["rhs"]) for m in merges] == [("a", "b"), ("ab", "c")]
    out = spark.createDataFrame([("abcabc",)], "word string").select(
        TX.bpe_tokenize("word", merges).alias("s")
    ).collect()
    assert out[0]["s"] == ["abc", "abc"]


def test_bpe_exhausted_vocab_stops_early_and_leaves_no_cache(spark):
    df = spark.createDataFrame([("a b c a b",)], "text string")
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    merges = TX.bpe_merge_table(df, "text", n_merges=4)
    # only single-char words: zero mergeable pairs -> empty model
    assert merges == []
    # the training loop persists per-iteration vocab frames; all of them
    # must be released on exit (the r11 classifier cache-residue class)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before


def test_bpe_fertility_vocabulary_bounded_counts(spark):
    df = spark.createDataFrame(
        [("en", "aa aa bb"), ("de", "aa")], "lang string, text string"
    )
    merges = TX.bpe_merge_table(df, "text", n_merges=1)  # (a,a) count 3
    rows = {
        r["grp"]: r
        for r in TX.bpe_fertility_by_group(df, "text", "lang", merges).collect()
    }
    assert rows["en"]["n_words"] == 3 and rows["en"]["n_chars"] == 6
    # aa -> [aa] (1 token) twice, bb -> [b, b] (2 tokens)
    assert rows["en"]["n_bpe_tokens"] == 4
    assert rows["de"]["n_bpe_tokens"] == 1
    assert abs(rows["de"]["tokens_per_char"] - 0.5) < 1e-9


def _py_divergence(texts_by_grp: dict) -> dict:
    """Reference KL/JS (bits) with the operator's absent-mass fold and
    1e-9 grid pinning."""
    import collections
    import math

    glob = collections.Counter()
    grps = {}
    for g, texts in texts_by_grp.items():
        cg = collections.Counter(w for t in texts for w in t.split(" ") if w)
        grps[g] = cg
        glob.update(cg)
    t = sum(glob.values())
    out = {}
    for g, cg in grps.items():
        ts = sum(cg.values())
        js9 = kl9 = 0
        cov = 0
        for w, cs in cg.items():
            p, q = glob[w] / t, cs / ts
            m = (p + q) / 2.0
            js9 += math.floor(
                (p * math.log(p / m) + q * math.log(q / m))
                / (2.0 * math.log(2.0)) * 1e9 + 0.5)
            kl9 += math.floor(q * math.log(q / p) / math.log(2.0) * 1e9 + 0.5)
            cov += glob[w]
        js9 += math.floor((t - cov) * 5e8 / t + 0.5)
        out[g] = (kl9 / 1e9, js9 / 1e9)
    return out


def test_unigram_divergence_hand_computed(spark):
    data = {
        "a": ["x x y", "y z"],
        "b": ["x y z z", "z z"],
        "c": ["q q q r"],  # vocabulary disjoint from a/b -> biggest shift
    }
    df = spark.createDataFrame(
        [(g, t) for g, ts in data.items() for t in ts], "source string, text string"
    )
    got = {
        r["grp"]: (r["kl_bits"], r["js_bits"])
        for r in TX.unigram_divergence(df, "text", "source").collect()
    }
    ref = _py_divergence(data)
    for g in data:
        assert abs(got[g][0] - ref[g][0]) < 1e-9, g
        assert abs(got[g][1] - ref[g][1]) < 1e-9, g
    # the disjoint-vocab group diverges most on both measures
    assert got["c"][0] > max(got["a"][0], got["b"][0])
    assert got["c"][1] > max(got["a"][1], got["b"][1])


def test_unigram_divergence_uniform_corpus_is_zero(spark):
    # every group identical to the global distribution -> KL = JS = 0
    df = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z"), ("c", "x y z")],
        "source string, text string",
    )
    for r in TX.unigram_divergence(df, "text", "source").collect():
        assert r["kl_bits"] == 0.0 and r["js_bits"] == 0.0
        assert r["coverage"] == 1.0


def test_quality_ensemble_votes_are_consistent(spark, sf_dir):
    from employee_activity_etl_poc_spark.plans.registry import REGISTRY

    rows = REGISTRY["quality_ensemble_report"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["votes"] == r["ppx_vote"] + r["clf_vote"] + r["dsir_vote"]
        assert r["keep"] == int(r["votes"] >= 2)
        assert r["ppx_vote"] in (0, 1) and r["clf_vote"] in (0, 1)
    # the ensemble must be non-trivial on the fixture: the components
    # disagree somewhere (otherwise 2-of-3 degenerates to any-one)
    assert any(
        len({r["ppx_vote"], r["clf_vote"], r["dsir_vote"]}) > 1 for r in rows
    )


def test_blocklist_filter_c4_policy_and_boundary(spark):
    df = spark.createDataFrame(
        [
            (1, "clean words only here"),
            (2, "one bad word spam here inside six"),  # hmm: contains 'spam'
            (3, "spam spam spam"),
        ],
        "doc_id long, text string",
    )
    strict = {
        r["doc_id"]: r for r in TX.blocklist_filter(
            df, "text", "doc_id", ("spam",), max_frac=0.0).collect()
    }
    assert strict[1]["keep"] == 1 and strict[1]["n_bad"] == 0
    assert strict[2]["keep"] == 0 and strict[2]["n_bad"] == 1  # any hit drops
    assert strict[3]["keep"] == 0 and strict[3]["n_bad"] == 3
    # boundary EQUALITY keeps under a fractional budget: doc 2 is 1 bad
    # of 7 tokens; a grid-representable budget of exactly 1/5 keeps it
    # (1/7 < 1/5) while the all-bad doc still drops. A budget BELOW the
    # true fraction drops: 1/7 floors to 142857/1e6 < 1/7 -> doc 2 drops.
    lenient = {
        r["doc_id"]: r["keep"] for r in TX.blocklist_filter(
            df, "text", "doc_id", ("spam",), max_frac=0.2).collect()
    }
    assert lenient[2] == 1 and lenient[3] == 0
    floored = {
        r["doc_id"]: r["keep"] for r in TX.blocklist_filter(
            df, "text", "doc_id", ("spam",), max_frac=1 / 7).collect()
    }
    assert floored[2] == 0


def test_tokenizer_store_roundtrip_and_guards(spark, tmp_path):
    from employee_activity_etl_poc_spark.operators.model_store import (
        load_tokenizer_artifact,
        save_tokenizer,
    )

    merges = [
        {"rank": 1, "lhs": "a", "rhs": "b", "merged": "ab", "pair_count": 9},
        {"rank": 2, "lhs": "ab", "rhs": "c", "merged": "abc", "pair_count": 4},
    ]
    path = str(tmp_path / "tok")
    save_tokenizer(spark, path, merges)
    assert load_tokenizer_artifact(spark, path)["merges"] == merges
    # truncated artifact (sentinel claims 2, only rank 1 present) rejected
    import pytest as _pytest

    from employee_activity_etl_poc_spark.localrel import local_df

    bad = str(tmp_path / "tok_bad")
    local_df(
        spark,
        [(-1, "", "", "", 2), (1, "a", "b", "ab", 9)],
        "rank int, lhs string, rhs string, merged string, pair_count long",
    ).write.mode("overwrite").parquet(bad)
    with _pytest.raises(ValueError, match="truncated"):
        load_tokenizer_artifact(spark, bad)
    # foreign artifact (merged != lhs+rhs) rejected
    worse = str(tmp_path / "tok_foreign")
    local_df(
        spark,
        [(-1, "", "", "", 1), (1, "a", "b", "xy", 9)],
        "rank int, lhs string, rhs string, merged string, pair_count long",
    ).write.mode("overwrite").parquet(worse)
    with _pytest.raises(ValueError, match="foreign"):
        load_tokenizer_artifact(spark, worse)
    # not-an-artifact rejected
    empty = str(tmp_path / "tok_empty")
    local_df(
        spark, [(3, "a", "b", "ab", 1)],
        "rank int, lhs string, rhs string, merged string, pair_count long",
    ).write.mode("overwrite").parquet(empty)
    with _pytest.raises(ValueError, match="sentinel"):
        load_tokenizer_artifact(spark, empty)


def test_bpe_vocab_size_curve_monotone_compression(spark):
    from employee_activity_etl_poc_spark.operators.textops import (
        bpe_merge_table,
        bpe_vocab_size_curve,
    )

    docs = spark.createDataFrame(
        [(i, "the the the cat cat sat sat on on the the mat") for i in range(4)],
        "doc_id long, text string",
    )
    merges = bpe_merge_table(docs, "text", n_merges=4)
    out = {
        r["n_merges"]: (r["n_bpe_tokens"], r["tokens_per_char"])
        for r in bpe_vocab_size_curve(docs, "text", merges, ks=(0, 2, 4)).collect()
    }
    toks = [out[k][0] for k in (0, 2, 4)]
    # every extra merge can only reduce (or keep) corpus token mass
    assert toks == sorted(toks, reverse=True) and toks[0] > toks[-1]
    # k=0 is the character baseline: tokens == chars
    base = out[0]
    assert base[1] == 1.0
