"""Stage-2 mention detection: AC automaton, anchor tagging, redirects."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from fact_extraction_spark import caches
from fact_extraction_spark.operators.extract_text import explode_sentences, extract_text
from fact_extraction_spark.operators.mentions import (
    anchor_mention_rows,
    build_alias_candidates,
    collect_alias_broadcast,
    collect_redirect_map,
    detect_dictionary_mentions,
    hot_hits,
    resolve_redirect_pairs,
    resolve_redirects,
    scan_kernel,
)
from fact_extraction_spark.textops.aho import TokenAhoCorasick
from pyspark.sql import functions as F


def test_aho_corasick_token_matching():
    ac = TokenAhoCorasick.from_entries([
        (["Baltimore", ",", "Maryland"], "Baltimore"),
        (["Baltimore"], "Baltimore_(city)"),
        (["New", "York"], "New_York"),
    ])
    toks = "Born in Baltimore , Maryland near New York".split()
    hits = sorted(ac.find(toks))
    # overlapping hits: the 1-token alias and the 3-token alias both fire
    assert (2, 2, "Baltimore_(city)") in hits
    assert (2, 4, "Baltimore") in hits
    assert (6, 7, "New_York") in hits
    # reference TokenMatcher golden (tagged_sentence.py:58-64): counts
    ac2 = TokenAhoCorasick.from_entries([(["1", "0", "1", "0"], "p")])
    assert len(list(ac2.find(list("1011010")))) == 1
    assert len(list(ac2.find(list("101010")))) == 2


def test_resolve_redirects_multi_hop(spark, tables):
    resolved = {(r["alias"], r["target"])
                for r in resolve_redirects(tables["redirects"]).collect()}
    # 2-hop chain Old_Veldt -> Veldt_Haven -> Veldt_Harbor collapses
    assert ("Old_Veldt", "Veldt_Harbor") in resolved
    assert ("Veldt_Haven", "Veldt_Harbor") in resolved


_CHAIN7 = [(f"a{i}", f"a{i + 1}") for i in range(1, 7)]


@pytest.mark.parametrize("rows,max_hops,pairs,rmap", [
    ([("A", "B"), ("B", "C"), ("C", "D")], 8,
     {("A", "D"), ("B", "D"), ("C", "D")}, {"A": "D", "B": "D", "C": "D"}),
    ([("A", "B"), ("B", "A")], 8,
     {("A", "A"), ("B", "B")}, {"A": "A", "B": "B"}),
    ([("A", "B"), ("B", "C"), ("C", "A")], 8,
     {("A", "B"), ("B", "C"), ("C", "A")}, {"A": "B", "B": "C", "C": "A"}),
    ([("A", "A"), ("X", "A")], 8,
     {("A", "A"), ("X", "A")}, {"A": "A", "X": "A"}),
    ([("A", "B"), ("A", "C"), ("B", "D")], 8,
     {("A", "C"), ("A", "D"), ("B", "D")}, {"A": "C", "B": "D"}),
    ([("A", None), (None, "B"), ("C", "A"), ("B", "E")], 8,
     {("A", None), ("B", "E"), ("C", "A"), (None, "E")},
     {"A": None, "B": "E", "C": "A", None: "E"}),
    (_CHAIN7, 2,
     {("a1", "a5"), ("a2", "a6"), ("a3", "a7"), ("a4", "a7"), ("a5", "a7"),
      ("a6", "a7")},
     {f"A{i}": "A7" for i in range(1, 7)}),
], ids=["chain", "cycle2", "cycle3", "self_loop", "fan_out", "nulls",
        "chain_2_hops"])
def test_resolve_redirects_hand_built(spark, rows, max_hops, pairs, rmap):
    """One hop replaces (a, t) with (a, coalesce(n, t)) for every (t, n);
    NULL never matches; the hops stop at the first without a non-NULL n or
    after max_hops. The map always resolves with the default 8 hops."""
    redirects = spark.createDataFrame(rows, "alias string, target string")
    got = resolve_redirects(redirects, max_hops).collect()
    assert {(r["alias"], r["target"]) for r in got} == pairs
    assert len(got) == len(pairs)
    assert collect_redirect_map(spark, redirects).value == rmap
    caches.release()


@pytest.mark.parametrize("rows,pairs", [
    ([("A", None), ("B", "A")], {("A", None), ("B", "A")}),
    ([], set()),
], ids=["null_target", "empty"])
def test_resolved_redirects_are_a_local_relation(spark, rows, pairs):
    """The resolved pairs are shipped back from the driver as a local
    relation (no PythonRDD, so no Python worker reads them) that keeps
    its schema with NULL targets and with no rows."""
    redirects = spark.createDataFrame(rows, "alias string, target string")
    resolved = resolve_redirects(redirects)
    plan = resolved._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in plan
    assert resolved.schema.simpleString() == "struct<alias:string,target:string>"
    assert {tuple(r) for r in resolved.collect()} == pairs
    caches.release()


def test_collect_redirect_map_is_one_job(spark, tables):
    """A redirects table no earlier call has seen is resolved, and its
    map built, by one collect: one Spark job."""
    redirects = tables["redirects"].select("alias", "target")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    rmap = collect_redirect_map(spark, redirects)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1
    assert rmap.value["Old_Veldt"] == "Veldt_Harbor"
    caches.release()


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_resolve_redirect_pairs_reaches_chain_ends(data):
    """Acyclic, NULL-free, one target per alias: every alias whose chain
    has at most 2^max_hops links resolves to the chain's end."""
    n = data.draw(st.integers(1, 40))
    # node i points to a larger node, or ends a chain
    parent = [data.draw(st.one_of(st.none(), st.integers(i + 1, n)))
              if i < n else None for i in range(n + 1)]
    pairs = data.draw(st.permutations(
        [(f"n{i}", f"n{p}") for i, p in enumerate(parent) if p is not None]))
    max_hops = data.draw(st.integers(0, 4))
    resolved = dict(resolve_redirect_pairs(pairs, max_hops))
    assert len(resolved) == len(pairs)
    for i, p in enumerate(parent):
        links, end = 0, i
        while parent[end] is not None:
            links, end = links + 1, parent[end]
        if p is not None and links <= 2 ** max_hops:
            assert resolved[f"n{i}"] == f"n{end}"


def test_anchor_mentions_resolve_aliases(spark, tables):
    sents = explode_sentences(extract_text(tables["pages"], lang=None))
    rmap = collect_redirect_map(spark, tables["redirects"])
    mentions = anchor_mention_rows(
        scan_kernel(sents, redirect_map_bc=rmap)).cache()
    ents = {r["entity"] for r in mentions.select("entity").distinct().collect()}
    # the redirect-only city must surface under its canonical title
    assert "Veldt_Harbor" in ents
    assert "Veldt_Haven" not in ents
    # span sanity: mention tokens reproduce the alias text
    row = mentions.filter(F.col("entity") == "Veldt_Harbor").first()
    toks = row["tokens"][row["start"]: row["end"] + 1]
    assert toks == ["Veldt", "Haven"]


def test_dictionary_mentions_find_unlinked_entities(spark, tables):
    sents = explode_sentences(extract_text(tables["pages"], lang=None))
    alias_bc = collect_alias_broadcast(
        spark, build_alias_candidates(tables["pages"], tables["redirects"]))
    hits = detect_dictionary_mentions(sents, alias_bc)
    got = {r["entity"] for r in hits.select("entity").distinct().collect()}
    assert "Grandmere_City" in got  # hub entity found by dictionary scan
    assert "Veldt_Harbor" in got    # via its alias
    # case-variant alias resolves to the canonical capitalized title
    assert not any(e.startswith("grandmere") for e in got)


def test_anchor_and_dictionary_agree_on_linked_spans(spark, tables):
    sents = explode_sentences(extract_text(tables["pages"], lang=None)).cache()
    rmap = collect_redirect_map(spark, tables["redirects"])
    alias_bc = collect_alias_broadcast(
        spark, build_alias_candidates(tables["pages"], tables["redirects"]))
    anchor = anchor_mention_rows(scan_kernel(sents, redirect_map_bc=rmap)) \
        .select("url", "sent_id", "start", "end", "entity")
    dictm = detect_dictionary_mentions(sents, alias_bc).select(
        "url", "sent_id", "start", "end", "entity")
    # every anchor mention is also found by the dictionary scan
    missing = anchor.join(dictm, ["url", "sent_id", "start", "end", "entity"],
                          "left_anti")
    assert missing.count() == 0


def test_fused_anchor_equals_chained(spark, tables):
    """Anchor tagging: the kernel over pages is row-identical to the kernel
    over the sentence rows of the stage-1 chain
    (extract_text → explode_sentences)."""
    from fact_extraction_spark.operators.mentions import fused_anchor_mentions
    rmap = collect_redirect_map(spark, tables["redirects"])
    sents = explode_sentences(extract_text(tables["pages"], lang="en"))
    chained = anchor_mention_rows(scan_kernel(sents, redirect_map_bc=rmap))
    fused = fused_anchor_mentions(tables["pages"], rmap, lang="en")
    cols = ["url", "sent_id", "rel_pos", "start", "end", "entity"]
    a = sorted(map(tuple, chained.select(*cols).collect()))
    b = sorted(map(tuple, fused.select(*cols).collect()))
    assert a == b and a


def test_fused_dictionary_equals_chained(spark, tables):
    """Dictionary hits: the kernel over pages is row-identical to the
    declared sentence-row query over the stage-1 chain."""
    alias_bc = collect_alias_broadcast(
        spark, build_alias_candidates(tables["pages"], tables["redirects"]))
    sents = explode_sentences(extract_text(tables["pages"], lang="en"))
    chained = detect_dictionary_mentions(sents, alias_bc)
    fused = hot_hits(scan_kernel(tables["pages"], head_bc=alias_bc,
                                 no_tail=True, lang="en"))
    cols = ["url", "sent_id", "rel_pos", "start", "end", "alias", "entity"]
    a = sorted(map(tuple, chained.select(*cols).collect()))
    b = sorted(map(tuple, fused.select(*cols).collect()))
    assert a == b and a


def test_fused_anchor_windows_equals_composed(spark, tables):
    """The single-pass flat-window path reproduces candidate_windows over
    the mention path exactly (incl. 50-token cap, first-span pick,
    self-link drop, n_slots)."""
    from fact_extraction_spark.functions.uri import capitalize_first, strip_name
    from fact_extraction_spark.operators.lexical_patterns import candidate_windows
    from fact_extraction_spark.operators.mentions import (
        fused_anchor_mentions, fused_anchor_windows)

    rmap = collect_redirect_map(spark, tables["redirects"])
    mentions = fused_anchor_mentions(tables["pages"], rmap, lang="en").filter(
        F.col("entity") != capitalize_first(strip_name("url")))
    composed = candidate_windows(mentions, window=4)
    fused = fused_anchor_windows(tables["pages"], rmap, lang="en", window=4)

    def rows(df):
        return sorted(
            (r["url"], r["sent_id"], r["rel_pos"], r["subject"], r["object"],
             r["n_slots"], tuple((s["slot"], s["word"]) for s in r["slots"]))
            for r in df.collect())

    a, b = rows(composed), rows(fused)
    assert a == b and a


# --------------------------------------------------------------------------
# map-side dictionary detection (bounded head + relational tail)
# --------------------------------------------------------------------------

def test_split_alias_dictionary_partitions_by_alias(spark, tables):
    from fact_extraction_spark.operators.mentions import (
        build_alias_candidates, split_alias_dictionary)

    cands = build_alias_candidates(tables["pages"], tables["redirects"])
    head, tail = split_alias_dictionary(cands, hot_k=5, max_tail_tokens=3)
    full = {(r["alias"], r["entity"]) for r in cands.collect()}
    h = {(r["alias"], r["entity"]) for r in head.collect()}
    t = {(r["alias"], r["entity"]) for r in tail.collect()}
    assert h | t == full          # nothing lost
    assert not (h & t)            # nothing duplicated
    # split is per alias: no alias appears on both sides
    assert not ({a for a, _ in h} & {a for a, _ in t})
    # every >max_tail_tokens alias lives in the head (the n-gram join can't
    # see longer grams)
    from fact_extraction_spark.textops.tokenizer import tokenize
    assert all(len(tokenize(a)) <= 3 for a, _ in t)
    # tail join keys are in frozen-tokenizer space
    for r in tail.collect():
        assert r["key"] == " ".join(tokenize(r["alias"]))


def test_mapside_dictionary_detection_equals_broadcast(spark, tables):
    """The scale strategy (hot-head automaton + n-gram tail join) over
    sentence rows emits exactly the mention rows of the full-dictionary
    automaton over the same pages."""
    from fact_extraction_spark.operators.mentions import (
        build_alias_candidates, collect_alias_broadcast,
        detect_dictionary_mentions_mapside_sentences, split_alias_dictionary)

    pages = tables["pages"]
    cands = build_alias_candidates(pages, tables["redirects"])

    full_bc = collect_alias_broadcast(spark, cands)
    want = {(r["url"], r["sent_id"], r["start"], r["end"],
             r["alias"], r["entity"])
            for r in hot_hits(scan_kernel(pages, head_bc=full_bc,
                                          no_tail=True)).collect()}

    # tiny hot_k so the tail path carries real weight
    head, tail = split_alias_dictionary(cands, hot_k=3, max_tail_tokens=6)
    head_bc = collect_alias_broadcast(spark, head.select("alias", "entity"))
    sents = explode_sentences(extract_text(pages, lang=None))
    got_rows = detect_dictionary_mentions_mapside_sentences(
        sents, head_bc, tail, max_tail_tokens=6).collect()
    got = {(r["url"], r["sent_id"], r["start"], r["end"],
            r["alias"], r["entity"]) for r in got_rows}
    assert got == want
    # tokens context rides along on both paths (link ranking needs it)
    assert all(r["tokens"] for r in got_rows)


def test_dictionary_strategy_auto_switch(spark, tables, monkeypatch):
    """dictionary_strategy="auto" picks broadcast up to
    DICTIONARY_BROADCAST_PAIRS alias pairs (mapside's extra shuffles are
    pure overhead on a small dictionary) and mapside above it."""
    from fact_extraction_spark.plans import pipeline

    cfg = pipeline.PipelineConfig(dictionary_strategy="auto")
    ctx = pipeline._build_dict_ctx(
        spark, tables["pages"], tables["redirects"], cfg)
    assert ctx["mode"] == "broadcast"
    # the context is kept per its inputs until release
    caches.release()

    monkeypatch.setattr(pipeline, "DICTIONARY_BROADCAST_PAIRS", 0)
    ctx2 = pipeline._build_dict_ctx(
        spark, tables["pages"], tables["redirects"], cfg)
    assert ctx2["mode"] == "mapside"
    caches.release()


def test_capitalize_colliding_redirects_resolve_identically(spark):
    """Two aliases collapsing to one capitalize_first form with different
    targets: the broadcast redirect map keeps one deterministic (min)
    target, and anchor windows resolve to it."""
    from fact_extraction_spark.operators.mentions import fused_anchor_windows

    redirects = spark.createDataFrame(
        [("vale_Town", "Zeta_City"), ("Vale_Town", "Alpha_City")],
        "alias string, target string")
    html = b"Kim grew up in [[Vale Town]] for years.\n\nA second paragraph."
    pages = spark.createDataFrame(
        [("https://en.wikipedia.org/wiki/Kim", html, "en")],
        "url string, html binary, lang string")

    rmap = collect_redirect_map(spark, redirects)
    assert rmap.value["Vale_Town"] == "Alpha_City"  # deterministic min

    def rows(df):
        return sorted(
            (r["url"], r["sent_id"], r["subject"], r["object"])
            for r in df.collect())

    bc = rows(fused_anchor_windows(pages, rmap, lang="en", window=2))
    assert bc and bc[0][3] == "Alpha_City"


def test_mapside_first_token_prune_fallback_identical(spark, tables):
    """The in-scan candidate path (tail first-token set broadcast into the
    scan kernel: filler sentences pruned before Arrow, only candidate
    positions explode) and the posexplode + semi-join fallback emit
    identical mention rows."""
    from fact_extraction_spark.operators.mentions import (
        build_alias_candidates, collect_alias_broadcast,
        detect_dictionary_mentions_mapside_sentences, split_alias_dictionary)

    pages = tables["pages"]
    cands = build_alias_candidates(pages, tables["redirects"])
    head, tail = split_alias_dictionary(cands, hot_k=3, max_tail_tokens=6)
    head_bc = collect_alias_broadcast(spark, head.select("alias", "entity"))
    sents = explode_sentences(extract_text(pages, lang=None))

    def rows(max_ft):
        return sorted(
            (r["url"], r["sent_id"], r["start"], r["end"],
             r["alias"], r["entity"], tuple(r["tokens"]))
            for r in detect_dictionary_mentions_mapside_sentences(
                sents, head_bc, tail, max_tail_tokens=6,
                max_first_tokens=max_ft).collect())

    pruned, fallback = rows(2_000_000), rows(0)
    assert pruned == fallback and pruned


def test_unanchored_mapside_prune_identical_through_pipeline(spark, tables):
    """dictionary_prune_sentences on/off is mention-row-identical through
    the full _page_mentions plan in the web shape that exercises every
    branch at once: mapside strategy (hot head + n-gram tail) +
    dictionary_scan_unanchored (every sentence scanned, anchors lifted) +
    ambiguity ranking riding on anchor-built profiles."""
    from fact_extraction_spark.plans.pipeline import (
        PipelineConfig, _build_dict_ctx, _page_mentions)

    rmap = collect_redirect_map(spark, tables["redirects"])
    outs = []
    for prune in (True, False):
        cfg = PipelineConfig(mention_mode="dictionary",
                             dictionary_strategy="mapside",
                             dictionary_scan_unanchored=True,
                             dictionary_hot_k=3,
                             dictionary_prune_sentences=prune)
        ctx = _build_dict_ctx(spark, tables["pages"], tables["redirects"],
                              cfg)
        assert (ctx["first_tok_bc"] is not None) == prune
        m = _page_mentions(tables["pages"], rmap, "en", ctx, cfg)
        outs.append(sorted(
            (r["url"], r["sent_id"], r["start"], r["end"], r["entity"])
            for r in m.collect()))
    caches.release()
    assert outs[0] == outs[1] and outs[0]


def test_scan_skip_set_fast_path_is_exact():
    """The C-speed filler fast path rests on one invariant: every automaton
    match's FIRST token is a root transition (aliases are added from the
    root), so `start_tokens.isdisjoint(tokens)` ⟹ no match. Property-check
    it against brute-force substring search over random token-space
    dictionaries and sentences."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    toks = st.sampled_from(["alpha", "beta", "gamma", "delta", "x", "y"])
    alias_st = st.lists(toks, min_size=1, max_size=3)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(alias_st, min_size=1, max_size=8),
           st.lists(toks, min_size=0, max_size=12))
    def check(aliases, sentence):
        # one entry per distinct alias (production dictionaries are
        # distinct (alias, entity) pairs; duplicate add()s duplicate hits)
        aliases = [list(a) for a in {tuple(a) for a in aliases}]
        ac = TokenAhoCorasick.from_entries(
            (a, (" ".join(a), " ".join(a).title())) for a in aliases)
        hits = sorted((s, e) for s, e, _ in ac.find(sentence))
        # brute force: every alias occurrence as a contiguous token run
        want = sorted(
            (i, i + len(a) - 1)
            for a in {tuple(a) for a in aliases}
            for i in range(len(sentence) - len(a) + 1)
            if tuple(sentence[i:i + len(a)]) == tuple(a))
        assert hits == want
        # the fast-path implication: disjoint ⟹ no hits
        if ac.start_tokens.isdisjoint(sentence):
            assert not hits
        # the occurrence-anchored scan path is hit-identical to find()
        from fact_extraction_spark.operators.mentions import _scan_tokens
        got2, _ = _scan_tokens(list(sentence), ac, ac.start_tokens, None)
        assert sorted((s, e) for s, e, _a, _n in got2) == want

    check()


def test_skip_probe_never_false_negative():
    """The raw-sentence probe regex (build_skip_probe + _probe_text) is a
    conservative SUPERSET test: probe miss ⟹ the tokenization of the
    NORMALIZED sentence contains no skip token. Property-checked over
    adversarial raw sentences — non-ASCII chars and [n] footnotes whose
    deletion merges fragments into new tokens, 1-char words, punctuation —
    against the exact tokenize(normalize_sentence(raw)) membership."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fact_extraction_spark.operators.mentions import (
        _probe_text, build_skip_probe)
    from fact_extraction_spark.textops.tokenizer import tokenize
    from fact_extraction_spark.textops.wikitext import normalize_sentence

    piece = st.sampled_from(
        ["Par", "is", "Lyon", "a", "I", "x", "don't", ".", ",", "[1]",
         "[12]", "é", "ü", " ", "  ", "qu", "el", "Quel"])
    raw_st = st.lists(piece, min_size=0, max_size=12).map("".join)
    tok_st = st.sampled_from(
        ["Paris", "Lyon", "Quel", "don't", "is", ".", ",", "x", "quel"])

    @settings(max_examples=300, deadline=None)
    @given(st.sets(tok_st, min_size=1, max_size=5), raw_st)
    def check(skip_toks, raw):
        skip = frozenset(skip_toks)
        probe = build_skip_probe(skip)
        assert probe is not None
        toks = tokenize(normalize_sentence(raw))
        if probe.search(_probe_text(raw)) is None:
            assert skip.isdisjoint(toks), (skip, raw, toks)

    check()


def test_witness_gate_never_false_negative():
    """The witness gate (TokenAhoCorasick.witness_tokens ∪ tail witnesses)
    is a NECESSARY condition for any match: gate-disjoint sentences have
    no automaton hit AND no tail n-gram match. Property-checked with
    stop-word-headed aliases ("the X" — the case that defeats the
    start-token condition) against brute-force occurrence search."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fact_extraction_spark.operators.mentions import (
        _is_witness_token, _scan_gate_set, _scan_skip_set, _scan_tokens)

    toks = st.sampled_from(["the", "of", "a", "Alpha", "Beta", "Gamma", "x"])
    alias_st = st.lists(toks, min_size=1, max_size=3)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(alias_st, min_size=1, max_size=6),
           st.lists(toks, min_size=0, max_size=10))
    def check(aliases, sentence):
        aliases = [list(a) for a in {tuple(a) for a in aliases}]
        ac = TokenAhoCorasick.from_entries(
            (a, (" ".join(a), "E")) for a in aliases)
        gate = _scan_gate_set(ac, None)
        want = sorted(
            (i, i + len(a) - 1)
            for a in {tuple(a) for a in aliases}
            for i in range(len(sentence) - len(a) + 1)
            if tuple(sentence[i:i + len(a)]) == tuple(a))
        # necessary condition: any match implies a witness in the sentence
        if gate.isdisjoint(sentence):
            assert not want
        # and the gated scan still finds every match
        got, _ = _scan_tokens(list(sentence), ac,
                              _scan_skip_set(ac, None), None, gate)
        assert sorted((s, e) for s, e, _a, _n in got) == want
        # witness construction: every alias contributes exactly one token
        wits = ac.witness_tokens(_is_witness_token)
        for a in aliases:
            assert any(t in wits for t in a), (a, wits)

    check()


def test_paragraph_probe_never_false_negative():
    """Paragraph-level probe conservativeness (the round-7 fast path): a
    probe miss on _probe_text(paragraph_plain) implies EVERY sentence the
    paragraph splits into has a normalized tokenization disjoint from the
    skip set — deletions (non-ASCII, [n] footnotes) commute with the
    line/sentence splits and separator chars are never deleted, so each
    sentence's probe-text is a substring of the paragraph's. Checked
    against the exact per-sentence membership over adversarial paragraphs
    (deletion fragments at sentence boundaries, multi-line, 1-char
    words)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fact_extraction_spark.operators.mentions import (
        _probe_text, build_skip_probe)
    from fact_extraction_spark.textops.tokenizer import tokenize
    from fact_extraction_spark.textops.wikitext import (
        normalize_sentence, split_paragraph_sentences)

    piece = st.sampled_from(
        ["Par", "is", "Lyon", "a", "I", "x", "don't", ".", "!", "?", ",",
         "[1]", "[12]", "é", "ü", " ", "  ", "\n", "qu", "el", "Quel",
         ". ", "! ", "? "])
    para_st = st.lists(piece, min_size=0, max_size=16).map("".join)
    tok_st = st.sampled_from(
        ["Paris", "Lyon", "Quel", "don't", "is", ".", ",", "x", "quel"])

    @settings(max_examples=400, deadline=None)
    @given(st.sets(tok_st, min_size=1, max_size=5), para_st)
    def check(skip_toks, plain):
        skip = frozenset(skip_toks)
        probe = build_skip_probe(skip)
        assert probe is not None
        if probe.search(_probe_text(plain)) is None:
            for sent in split_paragraph_sentences(plain):
                toks = tokenize(normalize_sentence(sent))
                assert skip.isdisjoint(toks), (skip, plain, sent, toks)

    check()


def _para_fastpath_pages(spark):
    """Handcrafted corpus exercising every paragraph-fast-path branch:
    inert multi-sentence paragraphs (probe skips whole paragraph), a
    paragraph whose LAST sentence holds the only dictionary hit (probe
    must not skip), a stop-word-headed alias, anchored paragraphs, and
    deletion fragments (non-ASCII / footnotes) at boundaries — with
    hit-bearing sentences AFTER skipped paragraphs so a sent_id drift
    would shift their ids and fail the row comparison."""
    wikitext = (
        "Inert filler one. Nothing here! More filler?\n"
        "Second line of filler.\n\n"
        "Another inert block. Entirely boring words.\n\n"
        "Boring start here. Then Alpha City appears at the end.\n\n"
        "The grand finale sentence mentions The Grand City today.\n\n"
        "Linked [[Alpha City]] paragraph sentence. No link sentence here.\n\n"
        "Fragmenté filler[1] block. Café words only.\n\n"
        "Alpha City leads this one. Trailing filler sentence.\n\n")
    rows = [("https://en.wikipedia.org/wiki/Page_%d" % i, "2023-01-01",
             wikitext.encode("utf-8"), "en") for i in range(3)]
    return spark.createDataFrame(
        rows, "url string, warc_ts string, html binary, lang string")


def test_paragraph_fastpath_rows_identical(spark):
    """The page-input kernel with pruning (probes + paragraph skip active),
    without and with anchor tagging, emits exactly the pruned projection
    of the prune=False rows — same sent_ids, rel_pos, tokens, hits, anchor
    spans and cand positions — on the corpus of _para_fastpath_pages."""
    from fact_extraction_spark.operators.mentions import (
        fused_sentence_hits_and_anchors)

    pages = _para_fastpath_pages(spark)
    aliases = [("Alpha City", "Alpha_City"),
               ("The Grand City", "The_Grand_City")]
    head_bc = spark.sparkContext.broadcast(aliases)
    rmap_bc = spark.sparkContext.broadcast({})

    def key(r):
        return (r["url"], r["sent_id"], r["rel_pos"], tuple(r["tokens"]),
                tuple(map(tuple, r["hits"])), tuple(r["cand"]))

    pruned = sorted(
        key(r) for r in scan_kernel(
            pages, head_bc=head_bc, include_unanchored=True,
            prune_empty=True, no_tail=True).collect())
    full = sorted(
        key(r) for r in scan_kernel(
            pages, head_bc=head_bc, include_unanchored=True,
            prune_empty=False, no_tail=True).collect()
        if r["hits"] or r["cand"])
    assert pruned == full and pruned

    def key2(r):
        return (r["url"], r["sent_id"], r["rel_pos"], tuple(r["tokens"]),
                tuple(map(tuple, r["hits"])),
                tuple(map(tuple, r["amentions"])), tuple(r["cand"]))

    pruned2 = sorted(
        key2(r) for r in fused_sentence_hits_and_anchors(
            pages, head_bc, rmap_bc, lang=None, include_unanchored=True,
            prune_empty=True, no_tail=True).collect())
    full2 = sorted(
        key2(r) for r in fused_sentence_hits_and_anchors(
            pages, head_bc, rmap_bc, lang=None, include_unanchored=True,
            prune_empty=False, no_tail=True).collect()
        if r["hits"] or r["amentions"] or r["cand"])
    assert pruned2 == full2 and pruned2
    # the fast path must actually have something to skip AND something to
    # keep after a skipped paragraph (id-drift detector): hit sent_ids are
    # non-contiguous and include ids beyond the first paragraphs
    ids = sorted({k[1] for k in pruned2 if k[0].endswith("Page_0")})
    assert ids and ids[-1] > len(ids)


def test_rarest_witness_excludes_family_head_tokens():
    """witness_tokens_rarest picks each alias's min-(dict-df, position)
    eligible token: a family head token shared by many aliases ("John …")
    must stay OUT of the gate when every member has a rarer token, and the
    stopword/1-char exclusion + first-token fallback still hold."""
    from fact_extraction_spark.operators.mentions import _is_witness_token
    from fact_extraction_spark.textops.tokenizer import tokenize

    aliases = ["John Smith", "John Karzenbach", "John Miller",
               "The Grand City", "of x"]
    ac = TokenAhoCorasick.from_entries(
        (tokenize(a), (a, a)) for a in aliases)
    got = ac.witness_tokens_rarest(_is_witness_token)
    # each family member contributes its unique surname, not "John"
    assert {"Smith", "Karzenbach", "Miller"} <= got and "John" not in got
    # stopword-headed alias contributes its first eligible token
    assert "Grand" in got and "The" not in got
    # no eligible token ("of" stopword, "x" 1-char) -> first-token fallback
    assert "of" in got


def test_tail_witness_broadcast_rarest_pick(spark):
    """collect_tail_witness_broadcast mirrors the rarest pick relationally:
    df over tail keys, min-(df, pos) eligible token per key, first-token
    fallback — and every picked token is a member of its key (the
    load-bearing gate invariant)."""
    from fact_extraction_spark.operators.mentions import (
        alias_join_keys, collect_tail_witness_broadcast)

    tail = alias_join_keys(spark.createDataFrame(
        [("John Smith", "E1"), ("John Karzenbach", "E2"),
         ("the of", "E3")], "alias string, entity string"))
    wits = collect_tail_witness_broadcast(tail).value
    assert {"Smith", "Karzenbach"} <= wits and "John" not in wits
    assert "the" in wits  # fallback: no eligible token in "the of"
