"""MinHash-LSH and SimHash near-dup: sanity + recall against the exact
n-gram Jaccard computation."""

from __future__ import annotations

import pyspark.sql.functions as F

from detector_network_processor_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_near_dups,
)
from detector_network_processor_spark.plans import all_queries

from conftest import SF_DIR


def _doc(doc_id, text):
    return dict(doc_id=doc_id, text=text)


def test_minhash_kernel_matches_per_doc_reference(spark):
    """The Arrow signature kernel must be BIT-IDENTICAL to the scalar
    per-document reference ((h*a+b) mod P, min per column) for every
    document — the explicit pin behind the r10 'bit-identical' claim, and
    the gate any future kernel rewrite must pass (the r13 chunked-reduceat
    variant passed it and was still rejected on measured wall — receipt in
    plans/r13/sigkernel_ab_receipts.jsonl). Doc sizes span tiny to 70k
    tokens so Arrow batch boundaries and large single docs get traffic."""
    import random

    import numpy as np

    from detector_network_processor_spark.operators.dedup import (
        _MERSENNE_P,
        _permutation_params,
        hashed_shingles,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]
    rows = []
    for doc_id in range(400):
        n_tok = rng.choice([3, 4, 10, 50, 400, 2000])
        rows.append(_doc(doc_id, " ".join(rng.choice(vocab) for _ in range(n_tok))))
    rows.append(_doc(9999, " ".join(rng.choice(vocab) for _ in range(70_000))))
    docs = spark.createDataFrame(rows)

    sh = {
        r["doc_id"]: np.asarray(r["_sh"], dtype=np.int64)
        for r in hashed_shingles(docs).collect()
    }
    got = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(docs).collect()
    }
    params = _permutation_params()
    a = np.array([p[0] for p in params], dtype=np.int64)
    b = np.array([p[1] for p in params], dtype=np.int64)
    assert set(got) == set(sh)
    for doc_id, arr in sh.items():
        h = arr % _MERSENNE_P
        ref = ((h[:, None] * a + b) % _MERSENNE_P).min(axis=0)
        assert got[doc_id] == list(ref), doc_id


def test_minhash_identical_docs_collide(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            _doc(1, base),
            _doc(2, base),  # exact dup
            # near dup: one appended word -> jaccard 11/12, band-collision
            # miss probability ~3e-9 (a mid-string replacement at this doc
            # length gives jaccard ~0.57 where LSH legitimately misses ~17%
            # of hash families — too flaky for a unit test)
            _doc(3, base + " tonight"),
            _doc(4, "completely different words about spark query engines and shuffles here"),
        ]
    )
    sigs = minhash_signatures(docs)
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in minhash_lsh_pairs(sigs).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.3
    assert all(4 not in p for p in pairs)


def test_band_rows_plans_one_arrow_stage_over_live_signatures(spark):
    """Over a LIVE (un-checkpointed) signature plan, band_rows must plan
    exactly ONE ArrowEvalPython stage: exploding an aliased array column
    from a separate projection lets InferFiltersFromGenerate push a
    size(arr) > 0 filter whose substituted expression re-evaluates the
    MinHash kernel — a silent 2x on every signature (caught in r12 when
    dedup_components_lsh's fingerprint read python_arrow 2)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = minhash_signatures(docs, portable=True)
    from detector_network_processor_spark.operators.dedup import band_rows

    plan = (
        band_rows(sigs, portable=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("ArrowEvalPython") == 1, plan[:2000]


def test_minhash_min_est_equals_filter_after(spark):
    """min_est pushes the caller's threshold BELOW the pair-dedup
    aggregate (a post-hoc filter sits above a first()-aggregate Catalyst
    cannot push through): output must be IDENTICAL to filtering after —
    the est is a pure function of the two signatures, so which band's
    collision row survives the dedup cannot change it."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = minhash_signatures(docs, portable=True).localCheckpoint(eager=True)
    after = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(sigs, portable=True).collect()
        if r.est_jaccard >= 0.34
    }
    pushed = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(sigs, portable=True, min_est=0.34).collect()
    }
    assert pushed == after and pushed, f"{len(pushed)} vs {len(after)} pairs"


def test_simhash_duplicate_hamming_zero(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [_doc(1, base), _doc(2, base), _doc(3, "unrelated totally different content words entirely")]
    )
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_dups(docs).collect()}
    assert got.get((1, 2)) == 0


def test_minhash_lsh_recall_vs_exact(spark):
    """Every high-jaccard pair found by the exact shingle computation must
    be recovered by the LSH path (j >= 0.5 -> collision prob ~1-(1-0.5^4)^16
    ~ 0.65 per band set... asserted empirically on the fixture corpus)."""
    exact = all_queries()["near_dup_jaccard"].fn(spark, SF_DIR)
    strong = {
        (r.doc_a, r.doc_b)
        for r in exact.filter(F.col("jaccard") >= 0.5).collect()
    }
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(minhash_signatures(docs)).collect()
    }
    if strong:
        recall = len(strong & got) / len(strong)
        assert recall >= 0.9, f"LSH recall {recall} over {len(strong)} strong pairs"


def test_bpe_train_merges_differential(spark):
    """Distributed BPE == an independent pure-Python BPE (Sennrich-style
    greedy merge with (count desc, pair asc) tie-break) on a randomized
    corpus — including tie-heavy and run-heavy ('aaaa') words."""
    import numpy as np

    from detector_network_processor_spark.plans.llm import _BPE_ITERS

    rng = np.random.default_rng(7)
    vocab = ["aa", "aaaa", "abab", "low", "lower", "xy", "xyz", "q"]
    corpus_words = [vocab[i] for i in rng.integers(0, len(vocab), 300)]

    # independent reference implementation (no shared code with the plan)
    def ref_bpe(words, iters):
        from collections import Counter

        freq = Counter(words)
        sym = {w: tuple(w) for w in freq}
        merges = []
        for _ in range(iters):
            pc = Counter()
            for w, f in freq.items():
                s = sym[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += f
            (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((a, b, a + b, c))
            for w in freq:
                s, out, i = sym[w], [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                sym[w] = tuple(out)
        return merges

    expected = ref_bpe(corpus_words, _BPE_ITERS)

    # drive the registered plan over a docs-shaped temp table
    import os
    import tempfile

    from detector_network_processor_spark.plans import all_queries

    with tempfile.TemporaryDirectory(prefix="dnp_bpe_") as tmp:
        docs = spark.createDataFrame(
            [(1, " ".join(corpus_words), "en", "s", 1)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs.write.parquet(os.path.join(tmp, "documents.parquet"))
        got = all_queries()["bpe_train_merges"].fn(spark, tmp).collect()

    assert [(r.left_sym, r.right_sym, r.merged, r.pair_count) for r in got] == expected


def test_dsir_importance_differential(spark):
    """dsir_importance == an independent pure-Python DSIR implementation
    (hashed bag-of-words, add-1 smoothing, integer-scaled log weights) on a
    synthetic corpus with a distinct target domain."""
    import math
    import os
    import tempfile

    from detector_network_processor_spark.plans import all_queries
    from detector_network_processor_spark.plans.curation import (
        _DSIR_K,
        _DSIR_KEEP_PCT,
        _DSIR_MOD,
        _DSIR_SCALE,
        _DSIR_TARGET,
    )

    def h(w: str) -> int:
        acc = 0
        for ch in w:
            acc = (acc * 31 + ord(ch)) % _DSIR_MOD
        return acc % _DSIR_K

    docs = []
    for i in range(60):
        src = f"src{i % 6}"
        words = (["wiki", "clean", "prose"] * 3) if i % 6 < 2 else ["spam", "buy", "now", f"junk{i}"]
        docs.append((i, " ".join(words + [f"w{i % 9}"]), "en", src, 1))

    # independent model
    raw, tgt, per_doc = {}, {}, {}
    for doc_id, text, _l, src, _n in docs:
        counts = {}
        for w in text.split(" "):
            if w:
                counts[h(w)] = counts.get(h(w), 0) + 1
        per_doc[doc_id] = counts
        for b, c in counts.items():
            raw[b] = raw.get(b, 0) + c
            if src in _DSIR_TARGET:
                tgt[b] = tgt.get(b, 0) + c
    tr, tt = sum(raw.values()), sum(tgt.values())
    lr6 = {
        b: math.floor(
            (math.log((tgt.get(b, 0) + 1.0) / (tt + _DSIR_K)) - math.log((c + 1.0) / (tr + _DSIR_K)))
            * _DSIR_SCALE
        )
        for b, c in raw.items()
    }
    scored = {
        d: (sum(cs.values()), sum(c * lr6[b] for b, c in cs.items())) for d, cs in per_doc.items()
    }
    order = sorted(scored, key=lambda d: (-scored[d][1], d))
    n_keep = (len(docs) * _DSIR_KEEP_PCT) // 100
    expected = {
        d: (scored[d][0], round(scored[d][1] / _DSIR_SCALE, 6), r + 1, r + 1 <= n_keep)
        for r, d in enumerate(order)
    }

    with tempfile.TemporaryDirectory(prefix="dnp_dsir_") as tmp:
        spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            r.doc_id: (r.n_words, r.log_weight, r.rank, r.selected)
            for r in all_queries()["dsir_importance"].fn(spark, tmp).collect()
        }
    assert got == expected
    # sanity: the clean target-domain docs must outrank the junk
    assert all(expected[d][3] for d in range(0, 12, 6))


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing theorem (Schleimer et al. 2003): any shared token run
    of length >= w + k - 1 (= 6 here) between two documents must share at
    least one fingerprint VALUE — the coverage bound that makes winnowing
    usable for substring-level duplicate detection. Also: a doc pair with
    no shared 3-gram shares nothing."""
    import os
    import random
    import tempfile

    rng = random.Random(17)
    vocab = [f"tok{i}" for i in range(200)]
    shared = " ".join(rng.choice(vocab) for _ in range(10))  # 10-token run
    mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))  # noqa: E731
    docs = [
        (0, mk(30) + " " + shared + " " + mk(25), "en", "src0", 0),
        (1, mk(40) + " " + shared, "en", "src1", 0),
        # disjoint vocabulary -> no shared 3-gram at all
        (2, " ".join(f"zz{i}" for i in range(40)), "en", "src2", 0),
    ]
    with tempfile.TemporaryDirectory(prefix="dnp_wnw_") as tmp:
        spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(tmp, "documents.parquet"))
        rows = all_queries()["winnowing_fingerprints"].fn(spark, tmp).collect()
    fps = {d: {r.fp for r in rows if r.doc_id == d} for d in (0, 1, 2)}
    assert fps[0] & fps[1], "shared 10-token run must share a fingerprint"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


def test_boilerplate_flags_grams_by_document_frequency(spark):
    """A 3-gram present in >= 3 docs is boilerplate; one in only 2 docs is
    not. Doc 3 shares no gram with anything -> fraction 0."""
    import os
    import tempfile

    tpl = "alpha beta gamma"  # appears in docs 0,1,2 -> boilerplate
    rare = "delta epsilon zeta"  # appears in docs 0,1 only -> clean
    docs = [
        (0, f"{tpl} one two three {rare} four", "en", "s0", 0),
        (1, f"five {tpl} six {rare} seven eight", "en", "s1", 0),
        (2, f"{tpl} nine ten eleven twelve", "en", "s2", 0),
        (3, "p q r s t u v w", "en", "s3", 0),
    ]
    with tempfile.TemporaryDirectory(prefix="dnp_boiler_") as tmp:
        spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(tmp, "documents.parquet"))
        rows = {r.doc_id: r for r in all_queries()["boilerplate_ngrams"].fn(spark, tmp).collect()}
    # each doc's text is w words -> w-2 grams; "alpha beta gamma" contributes
    # exactly one flagged gram occurrence per containing doc
    assert rows[3].n_boiler == 0 and rows[3].boiler_frac6 == 0
    for d in (0, 1, 2):
        assert rows[d].n_boiler == 1, rows[d]
    assert rows[0].n_grams == len(docs[0][1].split()) - 2


def test_near_dup_capped_equals_exact(spark):
    """Stop-shingle pruning with exact array_intersect rescoring returns
    the IDENTICAL pair set and scores as the uncapped path, at caps far
    below the observed df tail (sf0.01 max df = 7)."""
    from detector_network_processor_spark.plans.llm import near_dup_jaccard_plan

    from conftest import SF_DIR

    exact = sorted(map(tuple, near_dup_jaccard_plan(spark, SF_DIR, max_df=None).collect()))
    for cap in (3, 8):
        capped = sorted(map(tuple, near_dup_jaccard_plan(spark, SF_DIR, max_df=cap).collect()))
        assert capped == exact, f"cap={cap}: {len(capped)} vs {len(exact)} pairs"


def test_registered_capped_jaccard_equals_exact(spark):
    """The REGISTERED capped variant (corpus-relative cap) must return the
    identical pair set as the exact path at both small SFs — it shares the
    exact path's DuckDB oracle, so this is its driver-correctness
    precondition. The relative cap exists because duplication in the
    fixtures (and real crawls) scales with corpus size: measured required
    caps are 4 at 500 docs, 10 at 5000 docs (an absolute cap can't hold)."""
    from detector_network_processor_spark.plans.llm import _jaccard_cap

    assert _jaccard_cap(500) == 4
    assert _jaccard_cap(5000) == 15  # >= required 10, still prunes max_df 25
    qs = all_queries()
    for sf in ("/root/testdata/sf0.001", SF_DIR):
        exact = sorted(map(tuple, qs["near_dup_jaccard"].fn(spark, sf).collect()))
        capped = sorted(map(tuple, qs["near_dup_jaccard_capped"].fn(spark, sf).collect()))
        assert capped == exact, f"{sf}: {len(capped)} vs {len(exact)} pairs"


def test_star_edges_give_same_components_as_full_bucket_pairing(spark):
    """lsh_star_edges replaces each LSH bucket's candidate clique with a
    spanning star — connected components over star edges must equal
    components over the FULL unverified candidate-pair graph (the property
    that makes the linear-edge clone-regime path correct)."""
    from detector_network_processor_spark.operators.components import (
        connected_components,
    )
    from detector_network_processor_spark.operators.dedup import (
        lsh_star_edges,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    from conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = minhash_signatures(docs, portable=True).localCheckpoint(eager=True)
    full = minhash_lsh_pairs(sigs, portable=True)  # unverified candidates
    star = lsh_star_edges(sigs, portable=True)
    # star edge volume never exceeds full pairing volume
    assert star.count() <= full.count()
    cc_full = {
        r.node: r.component
        for r in connected_components(full, "doc_a", "doc_b").collect()
    }
    cc_star = {
        r.node: r.component
        for r in connected_components(star, "doc_a", "doc_b").collect()
    }
    assert cc_full == cc_star


def test_substring_dedup_spans_marks_cross_doc_duplication(spark):
    """End-to-end substring dedup: a long passage shared by two docs must
    produce an excision span in BOTH docs covering (a subset of) the
    passage; a doc with unique text gets no spans."""
    import os
    import random
    import tempfile

    rng = random.Random(23)
    vocab = [f"tok{i}" for i in range(500)]
    shared = " ".join(rng.choice(vocab) for _ in range(12))  # >= w+k-1 = 6
    mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))  # noqa: E731
    pre0, pre1 = mk(20), mk(35)
    docs = [
        (0, pre0 + " " + shared + " " + mk(15), "en", "s0", 0),
        (1, pre1 + " " + shared, "en", "s1", 0),
        (2, " ".join(f"uniq{i}" for i in range(60)), "en", "s2", 0),
    ]
    with tempfile.TemporaryDirectory(prefix="dnp_ssd_") as tmp:
        spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(tmp, "documents.parquet"))
        rows = all_queries()["substring_dedup_spans"].fn(spark, tmp).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 2 not in by_doc, "unique doc must have no excision spans"
    # both sharing docs get at least one span, inside/overlapping the shared
    # region (1-based token positions)
    n0, n1 = len(pre0.split()), len(pre1.split())
    for d, start in ((0, n0 + 1), (1, n1 + 1)):
        assert d in by_doc, f"doc {d} missing spans"
        sh_end = start + 12  # exclusive
        overlapping = [
            s for s in by_doc[d] if s.span_start < sh_end and s.span_end > start
        ]
        assert overlapping, f"doc {d}: no span overlaps the shared passage"
        for s in by_doc[d]:
            assert s.span_tokens == s.span_end - s.span_start
            assert s.n_fps >= 1


def test_substring_dedup_rewrite_excises_and_preserves(spark):
    """The APPLY stage: rewritten docs must (a) drop every token covered by
    an excision span and keep every other token IN ORDER, and (b) pass
    unique documents through byte-identical."""
    import os
    import random
    import tempfile

    rng = random.Random(29)
    vocab = [f"tok{i}" for i in range(500)]
    shared = " ".join(rng.choice(vocab) for _ in range(12))
    mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))  # noqa: E731
    pre0, post0, pre1 = mk(20), mk(15), mk(35)
    uniq = " ".join(f"uniq{i}" for i in range(60))
    docs = [
        (0, pre0 + " " + shared + " " + post0, "en", "s0", 0),
        (1, pre1 + " " + shared, "en", "s1", 0),
        (2, uniq, "en", "s2", 0),
    ]
    with tempfile.TemporaryDirectory(prefix="dnp_ssdr_") as tmp:
        spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(tmp, "documents.parquet"))
        spans = all_queries()["substring_dedup_spans"].fn(spark, tmp).collect()
        rows = {
            r.doc_id: r
            for r in all_queries()["substring_dedup_rewrite"].fn(spark, tmp).collect()
        }
    # unique doc: untouched
    assert rows[2].dedup_text == uniq
    assert rows[2].n_kept == rows[2].n_tokens == 60
    # duplicated docs: rewrite == original minus exactly the spanned tokens
    spans_by_doc = {}
    for s in spans:
        spans_by_doc.setdefault(s.doc_id, []).append((s.span_start, s.span_end))
    for d in (0, 1):
        toks = docs[d][1].split(" ")
        expect = [
            t
            for i, t in enumerate(toks, start=1)
            if not any(a <= i < b for a, b in spans_by_doc[d])
        ]
        assert rows[d].dedup_text == " ".join(expect), f"doc {d}"
        assert rows[d].n_tokens == len(toks)
        assert rows[d].n_kept == len(expect) < len(toks)
