"""Stage 2: mention detection.

One scan kernel (``scan_kernel``) does all of it: html → sentences →
tokens → spans, in one pure-Python sentence loop run through one
iterator-form ``mapInPandas``, so the automaton, probe and anchor-cache
set-up happen once per task. It takes one of two inputs:

* pages ``(url, html[, lang])`` — the production path:
  ``extract_article_text`` → ``iter_raw_sentences`` → raw-text filler
  probes → ``tokens_of_normalized``;
* sentences ``(url, sent_id, rel_pos, sentence[, anchors])`` — sentence
  rows as ``explode_sentences`` emits them, tokenized with exactly
  ``tokenize(sentence)``; the probes are skipped, because their exactness
  proof assumes page-mode normalization.

Per sentence it applies up to three matchers, each optional:

* a head automaton (``head_bc``): one Aho-Corasick automaton over a
  broadcast (alias, entity) list — the full dictionary, or the hot head of
  the map-side split — built once per executor;
* anchors plus a redirect map (``redirect_map_bc``): reference-parity
  tagging. The entities a sentence mentions are the targets of its
  hyperlink anchors, located at token level (semantics of
  tagged_sentence.py:17-64,78-83 TokenMatcher + the capitalize hotfix
  :232-233) and resolved through the redirect dictionary at match time
  (the reference rewrote the whole dump in a setup pass instead,
  data_cleaning/redirects_substitutor.py:136-168);
* the tail first-token/witness sets of the map-side split: ``cand`` marks
  the token positions where a tail alias could start, for the relational
  n-gram join (``_mapside_union``).

It emits one row per sentence, ``(url, sent_id, rel_pos, tokens, hits,
amentions, cand)``; with ``prune_empty`` a sentence with no hit, anchor
mention or candidate is dropped before it crosses Arrow. Every entry point
is a projection over it:

* ``fused_sentence_hits_and_anchors`` — dictionary mode (pipeline);
* ``fused_anchor_windows`` — anchors mode (pipeline): builds the nested
  slot windows in Python inside the kernel's batch loop;
* ``fused_anchor_mentions`` — anchor mention rows (streaming ingest);
* ``detect_dictionary_mentions`` and
  ``detect_dictionary_mentions_mapside_sentences`` — the declared
  dictionary queries, composed as the pipeline composes them: the pruned
  kernel output materialized once (``_filled``), then ``hot_hits`` or
  ``_mapside_union``.

Scale notes: the full alias dictionary is broadcast only under the
``broadcast`` strategy; at 10^7 aliases the map-side split keeps the
automaton to a bounded hot head and joins the long tail relationally.
"""

from __future__ import annotations

import re

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from fact_extraction_spark import caches
from fact_extraction_spark.functions.uri import capitalize_first, strip_name
from fact_extraction_spark.textops.aho import TokenAhoCorasick
from fact_extraction_spark.textops.tokenizer import tokenize

_SPAN_FIELDS = [StructField("start", IntegerType()),
                StructField("end", IntegerType())]

# the kernel's one output schema, after ``url`` and any pass-through columns
KERNEL_FIELDS = [
    StructField("sent_id", IntegerType()),
    StructField("rel_pos", DoubleType()),
    StructField("tokens", ArrayType(StringType())),
    StructField("hits", ArrayType(StructType([
        *_SPAN_FIELDS,
        StructField("alias", StringType()),
        StructField("entity", StringType()),
    ]))),
    StructField("amentions", ArrayType(StructType([
        *_SPAN_FIELDS,
        StructField("entity", StringType()),
    ]))),
    StructField("cand", ArrayType(IntegerType())),
]

# fused_anchor_windows' projection, after ``url``
WINDOW_FIELDS = [
    StructField("sent_id", IntegerType()),
    StructField("rel_pos", DoubleType()),
    StructField("subject", StringType()),
    StructField("object", StringType()),
    StructField("n_slots", IntegerType()),
    StructField("slots", ArrayType(StructType([
        StructField("slot", IntegerType()),
        StructField("word", StringType()),
    ]))),
]

# per-executor automaton cache (see _cached_by_identity / _automaton_for)
_AC_CACHE: dict = {}

_IDENTITY_CACHE_ENTRIES = 4  # per kind; bounds executor memory, stops the
                             # rebuild thrash when two automatons alternate
                             # within one executor (ADVICE r6)


def _cached_by_identity(cache: dict, ac, aux, build):
    """Per-executor cache for a value derived from (ac, aux), keyed on
    id()s but PINNING both keyed objects in the entry and re-checking
    identity on hit: a bare id() key can be recycled after GC (CPython
    reuses addresses) and would silently serve a stale derived set for a
    different dictionary — observed in practice when test suites build
    fresh automatons back-to-back. Holds a few entries per kind (cleared
    wholesale when full) so two dictionaries alternating within one
    executor — e.g. broadcast + mapside paths in one session — don't
    rebuild the full witness-DFS / 250k-word trie regex per batch."""
    key = (id(ac), id(aux))
    ent = cache.get(key)
    if ent is not None and ent[0] is ac and ent[1] is aux:
        return ent[2]
    if len(cache) >= _IDENTITY_CACHE_ENTRIES:
        cache.clear()
    val = build()
    cache[key] = (ac, aux, val)
    return val


def _automaton_for(alias_bc) -> TokenAhoCorasick:
    """Per-executor Aho-Corasick automaton for a broadcast (alias, entity)
    list. Identity-PINNED cache (ADVICE r6): the entry holds the broadcast
    payload itself and re-checks ``is`` on hit, so a recycled id() in a
    long-lived executor can never serve a stale automaton for a different
    dictionary."""
    pairs = alias_bc.value
    return _cached_by_identity(
        _AC_CACHE, pairs, None,
        lambda: TokenAhoCorasick.from_entries(
            (tokenize(alias), (alias, entity)) for alias, entity in pairs))


def _make_paragraph_skip(bstate: dict):
    """Paragraph-level filler fast path (the round-6 documented lever): one
    C-speed probe scan over the tag-stripped paragraph text decides whether
    ANY of its sentences could contain a gate token — a miss skips the
    sentence split, the row dicts and every per-sentence probe for the
    whole paragraph (ids stay exact via count_split_sentences, see
    wikitext.iter_raw_sentences). Adaptive like the per-sentence probe: on
    entity-dense text (most paragraphs name SOME dictionary token) the
    paragraph pass is pure overhead, so it self-disables when a 256-
    paragraph sample shows the miss rate under ~1/4; the per-sentence probe
    stays independently adaptive. Output-invariant by construction
    (conservative superset test — the paragraph text is a superstring of
    every sentence, and _probe_text deletions commute with the splits)."""
    def skip_para(plain: str) -> bool:
        pp = bstate["pprobe"]
        if pp is None:
            return False
        bstate["pn"] += 1
        if pp.search(_probe_text(plain)) is None:
            bstate["pm"] += 1
            return True
        if bstate["pn"] >= 256 and bstate["pm"] * 4 < bstate["pn"]:
            bstate["pprobe"] = None
        return False
    return skip_para


# per-executor derived-set caches (see _cached_by_identity)
_SKIP_CACHE: dict = {}


_RX_WORD_TOKEN = re.compile(r"\w+(?:'\w+)?\Z")

# Witness selection for the sentence-level match gate: an alias's witness
# is its first token that is NOT one of these high-frequency function
# words (multi-language, lowercase-compared) — see
# TokenAhoCorasick.witness_tokens. Frozen, tiny and public-knowledge; a
# corpus-df-driven pick is the upgrade path when profiling stats exist.
_WITNESS_STOP = frozenset(
    "the a an of in on at and or for to by with from as is was were be "
    "den der die das des dem ein eine und von mit "
    "el la le les los las lo un une du de di il dans".split())


def _is_witness_token(t: str) -> bool:
    return len(t) > 1 and t.lower() not in _WITNESS_STOP


def _trie_pattern(words: list[str]) -> str:
    """Minimal regex for the word set via shared-prefix trie emission —
    the classic trick for compiling a large alternation the ``re`` engine
    can run without per-branch backtracking blowup."""
    trie: dict = {}
    for w in words:
        d = trie
        for ch in w:
            d = d.setdefault(ch, {})
        d[""] = None
    def emit(d: dict) -> str:
        end = "" in d
        alts, chars = [], []
        for ch, sub in sorted((c, s) for c, s in d.items() if c != ""):
            s = emit(sub)
            if s == "":
                chars.append(ch)
            else:
                alts.append(re.escape(ch) + s)
        if chars:
            alts.append(re.escape(chars[0]) if len(chars) == 1
                        else "[" + "".join(re.escape(c) for c in chars) + "]")
        if not alts:
            return ""
        pat = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        return "(?:" + pat + ")?" if end else pat
    return emit(trie)


def build_skip_probe(skip: frozenset, max_tokens: int = 250_000):
    """Compile the skip-token set into ONE C-speed regex over RAW sentence
    text, or None when it can't be done exactly/cheaply.

    Word-shaped tokens get ``\\b``-bounded trie alternation; single-char
    punctuation tokens a character class. The probe is a conservative
    SUPERSET test: if it does NOT match, the sentence's tokenization
    provably contains no skip token (a word token appears in text bounded
    by non-word chars — anything word-adjacent would have been absorbed
    into the token; a punctuation char is a token wherever it appears), so
    tokenization itself can be skipped. Callers must first undo the only
    two normalize_sentence transforms able to MERGE characters into a new
    token (footnote and non-ASCII deletion — see _probe_text); all other
    normalize steps only insert/collapse spaces or drop whole words, which
    never create tokens. False positives just take the slow exact path."""
    if len(skip) > max_tokens:
        return None
    words, puncts = [], []
    for t in skip:
        if _RX_WORD_TOKEN.match(t):
            words.append(t)
        elif len(t) == 1:
            puncts.append(t)
        else:
            return None  # unreachable from tokenize-space; stay safe
    parts = []
    if words:
        parts.append(r"\b(?:" + _trie_pattern(sorted(words)) + r")\b")
    if puncts:
        parts.append("[" + "".join(re.escape(c) for c in puncts) + "]")
    if not parts:
        return re.compile(r"(?!)")  # empty skip set: never matches
    return re.compile("|".join(parts))


_GATE_CACHE: dict = {}


def _scan_gate_set(ac: TokenAhoCorasick, wt: frozenset | None) -> frozenset:
    """The sentence-level match gate: one witness token per automaton alias
    (TokenAhoCorasick.witness_tokens) ∪ the tail aliases' witness set. A
    sentence disjoint from this set provably produces no automaton hit and
    no tail-join match — the condition the filler fast paths key on.
    Strictly more selective than the start-token set for stop-word-headed
    dictionaries ("The …" aliases no longer put "The" in the gate), and
    rarest-token ranked (VERDICT r6 Next #3): each alias contributes its
    minimal-(dictionary-df, position) eligible token, so "John …"/"New …"
    alias families no longer flood the gate with their shared corpus-
    frequent head token."""
    def build():
        s = ac.witness_tokens_rarest(_is_witness_token)
        return (s | wt) if wt is not None else s
    return _cached_by_identity(_GATE_CACHE, ac, wt, build)


_GATE_PROBE_CACHE: dict = {}
_SKIP_PROBE_CACHE: dict = {}


def _gate_probe(ac: TokenAhoCorasick, wt: frozenset | None):
    """Per-executor cached build_skip_probe over _scan_gate_set(ac, wt)."""
    return _cached_by_identity(
        _GATE_PROBE_CACHE, ac, wt,
        lambda: build_skip_probe(_scan_gate_set(ac, wt)))


def _skip_probe(ac: TokenAhoCorasick, ft: frozenset | None):
    """Per-executor cached build_skip_probe over _scan_skip_set(ac, ft) —
    the pre-witness probe, still used in the corner where a tail exists
    but its witness set exceeded the broadcast bound (gate off)."""
    return _cached_by_identity(
        _SKIP_PROBE_CACHE, ac, ft,
        lambda: build_skip_probe(_scan_skip_set(ac, ft)))


def _probe_text(raw: str) -> str:
    """The probe-safe view of a raw sentence: apply the two
    normalize_sentence deletions able to merge fragments into a new token
    (non-ASCII chars, ``[n]`` footnotes) — skipped entirely on the common
    all-ASCII bracket-free case."""
    from fact_extraction_spark.textops.wikitext import (
        _RX_FOOTNOTE, _RX_NON_ASCII)
    if raw.isascii() and "[" not in raw:
        return raw
    return _RX_FOOTNOTE.sub("", _RX_NON_ASCII.sub("", raw))


def _scan_tokens(tokens: list[str], ac: TokenAhoCorasick,
                 skip: frozenset, ft: frozenset | None,
                 gate: frozenset | None = None):
    """(hits, cand) for one token list, touching Python per OCCURRENCE of a
    skip token instead of per token: one C-speed set intersection decides
    emptiness, C-speed list.index locates the few matching positions, and
    the automaton runs as an anchored goto-walk from just those starts
    (find_at). Identical result sets to ac.find + the per-token candidate
    comprehension — the entity-dense web shape (most sentences contain
    SOME dictionary token but few positions) stops paying a Python loop
    over every token.

    ``gate`` (see _scan_gate_set) short-circuits first: a sentence with no
    alias WITNESS token cannot produce a hit or a tail match, so neither
    the occurrence scan nor any cand position is needed — this is what
    keeps stop-word-headed dictionaries ("The …") from forcing the full
    scan on every English sentence. Returning cand=[] under a failed gate
    is exact for the tail JOIN (a gram at any position would still fail to
    equal any tail key whose witness the sentence lacks)."""
    if gate is not None and gate.isdisjoint(tokens):
        return [], []
    inter = skip.intersection(tokens)
    if not inter:
        return [], []
    st = ac.start_tokens
    starts: list[int] = []
    cand: list[int] = []
    index = tokens.index
    for t in inter:
        in_head = t in st
        in_ft = ft is not None and t in ft
        i = 0
        while True:
            try:
                i = index(t, i)
            except ValueError:
                break
            if in_head:
                starts.append(i)
            if in_ft:
                cand.append(i)
            i += 1
    hits = ([(s, e, alias, entity) for s, e, (alias, entity)
             in ac.find_at(tokens, sorted(starts))] if starts else [])
    cand.sort()
    return hits, cand


def _scan_skip_set(ac: TokenAhoCorasick, ft: frozenset | None) -> frozenset:
    """Tokens able to START any dictionary match: the automaton's root
    transitions ∪ the tail first-token set. A sentence disjoint from this
    set (ONE C-speed frozenset.isdisjoint over its token list) provably has
    no automaton hit and no tail candidate, so scanners skip the Python
    automaton walk and the per-token candidate scan outright — on
    web-shaped pages that is the filler-majority fast path, leaving
    tokenization as the only per-byte Python cost."""
    return _cached_by_identity(
        _SKIP_CACHE, ac, ft,
        lambda: ac.start_tokens if ft is None else (ac.start_tokens | ft))


def _capitalize(name: str) -> str:
    return name[:1].upper() + name[1:] if name else name


# --------------------------------------------------------------------------
# redirects (resolved on the driver) and the alias dictionary
# --------------------------------------------------------------------------

def resolve_redirect_pairs(pairs, max_hops: int = 8) -> list[tuple]:
    """Collapse multi-hop redirect chains: (alias, final target) pairs,
    deduplicated, in first-seen order. A hop replaces each pair (a, t) with
    (a, n or t) for every pair (t, n), or keeps it when none matches; NULL
    never matches. Hops run while one finds a non-NULL n, at most
    ``max_hops``; each doubles the links a pair skips, so a chain of at most
    2^max_hops links resolves to its end. Generalizes the reference's
    single-hop dict substitution (redirects_substitutor.py:52-64)."""
    resolved = dict.fromkeys(pairs)
    for _ in range(max_hops):
        nexts: dict = {}
        for alias, target in resolved:
            if alias is not None:
                nexts.setdefault(alias, []).append(target)
        if all(n is None for _, t in resolved for n in nexts.get(t, ())):
            break
        resolved = dict.fromkeys((a, t if n is None else n) for a, t in resolved
                                 for n in nexts.get(t) or (None,))
    return list(resolved)


def _redirects(redirects: DataFrame, max_hops: int = 8):
    # (resolved DataFrame, broadcast map), both from one collect
    def build():
        spark = redirects.sparkSession
        pairs = resolve_redirect_pairs(
            [tuple(r) for r in redirects.select("alias", "target").collect()],
            max_hops)
        mapping: dict[str, str] = {}
        for alias, target in pairs:
            alias, target = _capitalize(alias), _capitalize(target)
            old = mapping.get(alias)
            if old is None or target is not None and target < old:
                mapping[alias] = target
        resolved = pa.table({"alias": [a for a, _ in pairs],
                             "target": [t for _, t in pairs]},
                            schema=pa.schema([("alias", pa.string()),
                                              ("target", pa.string())]))
        # an Arrow table is a local relation: reading it starts no Python
        # worker, where a list of rows is read through one
        return (spark.createDataFrame(resolved),
                spark.sparkContext.broadcast(mapping))
    return caches.memo(("redirects", max_hops), (redirects,), build)


def resolve_redirects(redirects: DataFrame, max_hops: int = 8) -> DataFrame:
    """(alias, target): ``resolve_redirect_pairs`` of the table, resolved
    once on the driver from the one collect that also builds the redirect
    map, and shipped back from there; kept until ``caches.release()``. The
    driver holds the table once, as the map needs; the cost of that at
    10^7 redirects is unmeasured."""
    return _redirects(redirects, max_hops)[0]


def build_alias_candidates(pages: DataFrame, redirects: DataFrame) -> DataFrame:
    """(alias, entity) keeping EVERY candidate entity per alias.

    Aliases: every page title (identity) ∪ every resolved redirect alias,
    in display form ("Foo Bar"); the capitalize hotfix is applied to
    targets (reference tagged_sentence.py:232-233). Ambiguity-preserving: an
    alias that is both a page title and a redirect source (or redirects to
    several targets across case variants) yields one row per candidate. The
    stage-2b tf-idf ranking (operators/link_ranking.py) picks the winner per
    mention span.
    """
    titles = pages.select(strip_name("url").alias("title")).distinct()
    identity = titles.select(
        F.replace(F.col("title"), F.lit("_"), F.lit(" ")).alias("alias"),
        capitalize_first("title").alias("entity"),
    )
    rd = resolve_redirects(redirects).select(
        F.replace(F.col("alias"), F.lit("_"), F.lit(" ")).alias("alias"),
        capitalize_first("target").alias("entity"),
    )
    return identity.unionByName(rd).dropDuplicates(["alias", "entity"])


def collect_alias_broadcast(spark: SparkSession, alias_table: DataFrame):
    """Broadcast the alias dictionary as a list of (alias, entity)."""
    pairs = [(r["alias"], r["entity"]) for r in alias_table.collect()]
    return spark.sparkContext.broadcast(pairs)


def collect_redirect_map(spark: SparkSession, redirects: DataFrame):
    """Broadcast {alias → final target} (underscore form, capitalized).

    When two aliases collapse to the same capitalized form with different
    targets, the smallest target wins (NULL only when no other is there),
    so the map is deterministic. Built from ``resolve_redirects``' one
    collect (one Spark job) and kept with it until ``caches.release()``:
    learn and the extract after it in one session broadcast it once."""
    return _redirects(redirects)[1]


# --------------------------------------------------------------------------
# anchor tagging (reference parity)
# --------------------------------------------------------------------------

def _anchor_pairs(anchors):
    """Normalize Arrow's struct representation (dict or tuple) to pairs."""
    if anchors is None:
        return []
    out = []
    for a in anchors:
        if isinstance(a, dict):
            out.append((a["href"], a["anchor_text"]))
        else:
            out.append((a[0], a[1]))
    return out


def _build_anchor_ac(anchors, redirect_map) -> TokenAhoCorasick:
    """Tiny automaton over one sentence's/paragraph's anchors; entity =
    redirect-resolved target (tagged_sentence.py:78-83 TokenMatcher
    semantics + the capitalize hotfix)."""
    ac = TokenAhoCorasick()
    seen = set()
    for href, anchor_text in _anchor_pairs(anchors):
        a_tokens = tuple(tokenize(anchor_text))
        if not a_tokens or a_tokens in seen:
            continue
        seen.add(a_tokens)
        name = _capitalize(href.split("/")[-1])
        entity = redirect_map.get(name, name)
        ac.add(list(a_tokens), entity)
    ac.build()
    return ac


def _paragraph_anchor_spans():
    """Anchor-span finder with the per-PARAGRAPH mini automaton cached by
    IDENTITY of the anchors list (iter_raw_sentences shares one list
    object across a paragraph's sentences): a paragraph with k sentences
    builds its automaton once instead of k times, and the start_tokens
    disjoint check (the same invariant the dictionary fast path rests on,
    property-pinned) skips the find() walk on sentences containing none of
    the paragraph's anchor texts. The cached entry pins its anchors list,
    so the identity check can never match a recycled object."""
    state: list = [None, None]

    def find(tokens, anchors, redirect_map):
        if not anchors:
            return []
        if anchors is not state[0]:
            state[0] = anchors
            state[1] = _build_anchor_ac(anchors, redirect_map)
        ac = state[1]
        if ac.start_tokens.isdisjoint(tokens):
            return []
        return [(s, e, ent) for s, e, ent in ac.find(tokens)]
    return find


# --------------------------------------------------------------------------
# the scan kernel
# --------------------------------------------------------------------------

def _kernel_batches(page_mode: bool, columns: list[str], n_keep: int,
                    project, head_bc, redirect_map_bc, first_tok_bc,
                    witness_bc, no_tail: bool, include_unanchored: bool,
                    prune_empty: bool):
    """The mapInPandas function of ``scan_kernel``: per task, set up the
    matchers once, then run the sentence loop over every Arrow batch and
    emit ``columns`` (url, the ``n_keep`` pass-through columns, then the
    kernel's or the projection's fields)."""
    from fact_extraction_spark.textops.wikitext import (
        extract_article_text, iter_raw_sentences, tokens_of_normalized)

    def run(batches):
        ac = _automaton_for(head_bc) if head_bc is not None else None
        rmap = redirect_map_bc.value if redirect_map_bc is not None else None
        ft = first_tok_bc.value if first_tok_bc is not None else None
        wt = witness_bc.value if witness_bc is not None else None
        # the witness gate is exact only when the tail is covered by a
        # witness set (or absent); otherwise cand positions must survive
        # for the tail join — see _scan_gate_set / _scan_tokens
        gate_on = no_tail or wt is not None
        skip = gate = probe = None
        if ac is not None:
            skip = _scan_skip_set(ac, ft)
            gate = _scan_gate_set(ac, wt) if gate_on else None
            if page_mode and prune_empty:
                probe = _gate_probe(ac, wt) if gate_on else _skip_probe(ac, ft)
        # adaptive probes: the raw-text regex skips normalize+tokenize for
        # inert filler (and, at paragraph level, the whole sentence split —
        # see _make_paragraph_skip), but on entity-dense text it is pure
        # overhead, so each level stops probing for the rest of the task
        # once its sample shows the skip rate under the ~1/4 breakeven
        # (measured: probe 25 MB/s vs tokenize 7 MB/s per core). Output is
        # invariant either way.
        bstate = {"probe": probe, "pprobe": probe,
                  "n": 0, "m": 0, "pn": 0, "pm": 0}
        skip_para = _make_paragraph_skip(bstate)
        find_spans = _paragraph_anchor_spans()

        def page_sentences(pdf):
            for i, raw_html in enumerate(pdf["html"]):
                text = extract_article_text(
                    (bytes(raw_html) if raw_html is not None else b"").decode(
                        "utf-8", errors="replace"))
                for sent_id, rel_pos, raw, anchors in iter_raw_sentences(
                        text, include_unanchored=include_unanchored,
                        skip_paragraph=skip_para):
                    p = bstate["probe"]
                    if p is not None and not anchors:
                        bstate["n"] += 1
                        if p.search(_probe_text(raw)) is None:
                            # filler fast path: no token can start a match
                            # and no anchor exists (sent_id still advances:
                            # iter_raw_sentences assigns ids first)
                            bstate["m"] += 1
                            continue
                        if (bstate["n"] >= 1024
                                and bstate["m"] * 4 < bstate["n"]):
                            bstate["probe"] = None
                    yield (i, sent_id, rel_pos, tokens_of_normalized(raw),
                           anchors)

        def given_sentences(pdf):
            anchors = (pdf["anchors"] if "anchors" in pdf.columns
                       else [None] * len(pdf))
            for i, (sent_id, rel_pos, sent, anch) in enumerate(zip(
                    pdf["sent_id"], pdf["rel_pos"], pdf["sentence"], anchors)):
                yield (i, sent_id, rel_pos, tokenize(sent or ""),
                       _anchor_pairs(anch))

        sentences = page_sentences if page_mode else given_sentences
        for pdf in batches:
            heads = list(zip(*(pdf[c].tolist()
                               for c in pdf.columns[:1 + n_keep])))
            rows = []
            for i, sent_id, rel_pos, tokens, anchors in sentences(pdf):
                hits, cand = (_scan_tokens(tokens, ac, skip, ft, gate)
                              if ac is not None else ([], []))
                aspans = (find_spans(tokens, anchors, rmap)
                          if rmap is not None else [])
                if prune_empty and not hits and not aspans and not cand:
                    continue
                rec = (sent_id, rel_pos, tokens, hits, aspans, cand)
                if project is None:
                    rows.append(heads[i] + rec)
                else:
                    rows.extend(heads[i] + out
                                for out in project(heads[i][0], *rec))
            # never yield an all-empty batch: pandas infers float64 for
            # empty columns, which Arrow cannot cast to list<struct>
            if rows:
                yield pd.DataFrame.from_records(rows, columns=columns)
    return run


def scan_kernel(df: DataFrame, head_bc=None, redirect_map_bc=None,
                first_tok_bc=None, witness_bc=None, no_tail: bool = False,
                include_unanchored: bool = False, prune_empty: bool = False,
                lang: str | None = None, keep_cols: tuple = (),
                project=None, project_fields=None) -> DataFrame:
    """The mention-scan kernel: one row per sentence,
    ``(url, *keep_cols, sent_id, rel_pos, tokens, hits, amentions, cand)``.

    ``df`` is either pages ``(url, html[, lang])`` or sentence rows
    ``(url, sent_id, rel_pos, sentence[, anchors])`` (the input mode is the
    presence of a ``sentence`` column). ``lang`` filters pages on their
    ``lang`` column; ``include_unanchored`` lifts the reference-parity
    keeps-a-link sentence filter of page input.

    Matchers, each optional: ``head_bc`` (broadcast (alias, entity) list →
    ``hits``), ``redirect_map_bc`` (anchor spans resolved through the
    redirect map → ``amentions``) and ``first_tok_bc``/``witness_bc`` (the
    map-side tail's first-token and witness sets → ``cand``, see
    collect_tail_broadcasts). ``no_tail`` says the head is the whole
    dictionary, which turns the witness gate on without a tail witness set.

    ``prune_empty`` drops sentences with no hit, anchor mention and
    candidate inside the loop: on web-shaped pages the filler majority,
    whose tokens then never cross Arrow, never persist and never explode.
    Only safe when every consumer filters on one of the three and the tail
    is covered: ``first_tok_bc`` is set, or no tail path will run. On page
    input it also turns on the raw-text probes that skip tokenizing
    sentences that cannot match.

    ``project(url, sent_id, rel_pos, tokens, hits, amentions, cand)``, when
    given, maps each kept sentence to zero or more rows with
    ``project_fields`` in place of the kernel fields.
    """
    page_mode = "sentence" not in df.columns
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    inputs = (["html"] if page_mode else
              ["sent_id", "rel_pos", "sentence",
               *(["anchors"] if "anchors" in df.columns
                 and redirect_map_bc is not None else [])])
    df = df.select("url", *keep_cols, *inputs)
    schema = StructType([
        StructField("url", StringType()),
        *(df.schema[c] for c in keep_cols),
        *(KERNEL_FIELDS if project is None else project_fields)])
    return df.mapInPandas(
        _kernel_batches(page_mode, schema.fieldNames(), len(keep_cols),
                        project, head_bc, redirect_map_bc, first_tok_bc,
                        witness_bc, no_tail, include_unanchored, prune_empty),
        schema=schema)


def _filled(df: DataFrame) -> DataFrame:
    """``df`` materialized (caches.materialize): its rows feed several
    independent subtrees of the downstream action (hot hits, candidate
    positions, the tail join-back, anchor-mention profiles), and
    independent stages of one job run concurrently — each that reached an
    unfilled table would recompute the whole corpus scan."""
    return caches.materialize(df)[0]


def _explode_spans(sent: DataFrame, field: str, keep_cols: tuple = (),
                   alias: bool = False) -> DataFrame:
    """One mention row per span in ``sent.<field>``."""
    base = ["url", *keep_cols, "sent_id", "rel_pos", "tokens"]
    return (
        sent.filter(F.size(field) > 0)
        .select(*base, F.explode(field).alias("m"))
        .select(*base,
                F.col("m.start").alias("start"),
                F.col("m.end").alias("end"),
                *([F.col("m.alias").alias("alias")] if alias else []),
                F.col("m.entity").alias("entity"))
    )


def hot_hits(sent: DataFrame) -> DataFrame:
    """Explode the automaton hits of sentence rows into mention rows
    (url, sent_id, rel_pos, tokens, start, end, alias, entity)."""
    return _explode_spans(sent, "hits", alias=True)


def anchor_mention_rows(sent: DataFrame) -> DataFrame:
    """Explode the anchor spans of sentence rows into mention rows
    (the trusted-mention shape build_entity_profiles consumes)."""
    return _explode_spans(sent, "amentions")


def fused_sentence_hits_and_anchors(pages: DataFrame, head_bc,
                                    redirect_map_bc,
                                    lang: str | None = "en",
                                    include_unanchored: bool = False,
                                    first_tok_bc=None,
                                    prune_empty: bool = False,
                                    witness_bc=None,
                                    no_tail: bool = False) -> DataFrame:
    """Dictionary mode: ONE corpus pass emitting both the automaton hits
    (stage 2a candidates) and the redirect-resolved anchor mentions (the
    profiles of the stage-2b tf-idf ranking) per sentence — the kernel
    over pages with the head automaton and the redirect map."""
    return scan_kernel(pages, head_bc=head_bc,
                       redirect_map_bc=redirect_map_bc,
                       first_tok_bc=first_tok_bc, witness_bc=witness_bc,
                       no_tail=no_tail,
                       include_unanchored=include_unanchored,
                       prune_empty=prune_empty, lang=lang)


def fused_anchor_mentions(pages: DataFrame, redirect_map_bc,
                          lang: str | None = "en",
                          keep_cols: tuple = ()) -> DataFrame:
    """pages(html) → anchor mention rows (url, *keep_cols, sent_id,
    rel_pos, tokens, start, end, entity)."""
    sent = scan_kernel(pages, redirect_map_bc=redirect_map_bc,
                       prune_empty=True, lang=lang, keep_cols=keep_cols)
    return _explode_spans(sent, "amentions", keep_cols)


def _window_projection(window: int, max_sentence_tokens: int,
                       drop_redlinks: bool):
    offsets = [o for o in range(-window, window + 1) if o != 0]

    def project(url, sent_id, rel_pos, tokens, hits, aspans, cand):
        n_tok = len(tokens)
        if n_tok > max_sentence_tokens:
            return
        title = _capitalize(url.split("/")[-1])
        first = {}
        for s, e, ent in sorted(aspans):
            if ent not in first:
                first[ent] = (s, e)
        for ent, (s, e) in first.items():
            if ent == title:
                continue  # self-link drop (res != entity)
            if drop_redlinks and "redlink=1" in ent:
                continue
            slot_words = []
            for o in offsets:
                pos = s + o if o < 0 else e + o
                if 0 <= pos < n_tok:
                    slot_words.append((o, tokens[pos]))
            yield (sent_id, rel_pos, title, ent, len(slot_words), slot_words)
    return project


def fused_anchor_windows(pages: DataFrame, redirect_map_bc,
                         lang: str | None = "en",
                         window: int = 4,
                         max_sentence_tokens: int = 50,
                         drop_redlinks: bool = False) -> DataFrame:
    """Anchors mode: pages(html) → ONE candidate row per mention, built in
    Python inside the kernel's batch loop.

    Semantics of ``fused_anchor_mentions`` + the self-link filter +
    ``lexical_patterns.candidate_windows`` (equivalence-tested): the first
    span per (sentence, entity), the 50-token cap, ``subject`` the page
    title (capitalize hotfix), slots -window..window excluding 0.

    Why nested (``slots: array<struct<slot, word>>``): the corpus-wide cost
    is memory bandwidth, not the per-page Python. A flat row per (mention,
    slot word) repeats the url / subject / object strings ~2·window times
    per candidate — measured as ~1.3× task-time inflation at high core
    counts on the Arrow transfer, the persist and every downstream shuffle.
    One nested row per candidate is also unique BY CONSTRUCTION, so the
    scorer's candidate table needs no corpus-wide distinct, and building
    it here needs no window-function shuffle.
    """
    return scan_kernel(
        pages, redirect_map_bc=redirect_map_bc, prune_empty=True, lang=lang,
        project=_window_projection(window, max_sentence_tokens,
                                   drop_redlinks),
        project_fields=WINDOW_FIELDS)


def detect_dictionary_mentions(sentences: DataFrame, alias_bc) -> DataFrame:
    """Scan sentence rows against the full broadcast alias dictionary.

    Output: (url, sent_id, rel_pos, tokens, start, end, alias, entity) —
    the broadcast-strategy composition of the pipeline: the pruned kernel
    output materialized once, then ``hot_hits``."""
    sent = _filled(scan_kernel(sentences, head_bc=alias_bc, no_tail=True,
                               prune_empty=True))
    return hot_hits(sent)


def detect_dictionary_mentions_mapside_sentences(
    sentences: DataFrame, head_bc, tail: DataFrame,
    max_tail_tokens: int = 6, max_first_tokens: int = 2_000_000,
) -> DataFrame:
    """Map-side dictionary detection over sentence rows: hot-head
    automaton hits ∪ relational n-gram tail join, composed as the
    pipeline's mapside strategy composes them. Candidate tail positions
    are marked in the scan, and empty sentences pruned, whenever the tail's
    first-token set fits ``max_first_tokens`` (see
    collect_first_token_broadcast); above it every sentence is kept and the
    tail join posexplodes all tokens."""
    tail, n_tail = caches.materialize(tail.select("alias", "entity", "key"))
    ft_bc, wit_bc = collect_tail_broadcasts(tail, n_tail, max_first_tokens)
    sent = _filled(scan_kernel(sentences, head_bc=head_bc,
                               first_tok_bc=ft_bc, witness_bc=wit_bc,
                               prune_empty=ft_bc is not None))
    return _mapside_union(sent, tail, max_tail_tokens,
                          use_cand=ft_bc is not None, tail_empty=n_tail == 0)


# --------------------------------------------------------------------------
# map-side dictionary detection (the scale strategy: bounded hot-head
# automaton + relational n-gram join for the long tail — the full alias
# dictionary is never collected to the driver)
# --------------------------------------------------------------------------

ALIAS_KEY_SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("n_tokens", IntegerType()),
])


def alias_join_keys(aliases: DataFrame) -> DataFrame:
    """aliases(alias, entity) + (key, n_tokens): the alias re-serialized in
    frozen-tokenizer space (tokens joined by single spaces), which is the
    exact string the sentence-side n-gram builder produces. Dimension-table
    sized — the pandas UDF here never touches the corpus."""
    @pandas_udf(ALIAS_KEY_SCHEMA)
    def _key(alias: pd.Series) -> pd.DataFrame:
        keys, counts = [], []
        for a in alias:
            toks = tokenize(a or "")
            keys.append(" ".join(toks))
            counts.append(len(toks))
        return pd.DataFrame({"key": keys, "n_tokens": counts})

    return aliases.withColumn("_k", _key(F.col("alias"))) \
        .select("*", F.col("_k.key").alias("key"),
                F.col("_k.n_tokens").alias("n_tokens")).drop("_k")


def split_alias_dictionary(aliases: DataFrame, hot_k: int = 100_000,
                           max_tail_tokens: int = 6,
                           keyed: DataFrame | None = None
                           ) -> tuple[DataFrame, DataFrame]:
    """Partition the alias dictionary into a bounded hot head and a
    relational tail.

    Head = every alias longer than ``max_tail_tokens`` tokens (the n-gram
    tail path bounds its per-position explode at ``max_tail_tokens``) ∪ the
    ``hot_k`` shortest remaining aliases (Zipf: short aliases dominate
    corpus occurrences — swap in real per-alias frequencies from a
    profiling pass when available). The split is per ALIAS: every candidate
    entity of a hot alias rides along, so ambiguity is preserved on both
    paths. Deterministic (length, alias) ordering via distributed top-k —
    no global window, no driver collect. ``keyed`` lets the caller pass an
    already-computed (ideally materialized) ``alias_join_keys(aliases)`` so
    the tokenizing UDF over the dimension runs once per context build, not
    once per derived job.
    """
    if keyed is None:
        keyed = alias_join_keys(aliases)
    short = keyed.filter(F.col("n_tokens") <= max_tail_tokens)
    long_head = keyed.filter(F.col("n_tokens") > max_tail_tokens)
    hot_aliases = (short.select("alias").distinct()
                   .orderBy(F.length("alias"), "alias").limit(hot_k))
    head = long_head.unionByName(
        short.join(F.broadcast(hot_aliases), "alias", "left_semi"))
    tail = short.join(F.broadcast(hot_aliases), "alias", "left_anti")
    return head, tail


def collect_first_token_broadcast(tail: DataFrame,
                                  max_rows: int = 2_000_000):
    """Broadcast the DISTINCT first tokens of the tail alias keys as a
    Python frozenset, or None when the set exceeds ``max_rows``.

    Scale contract: the mapside split exists because the FULL dictionary
    (alias, entity, key — 10^7+ multi-token rows) must never be collected,
    but its first-token projection is orders of magnitude smaller (aliases
    share first tokens: every "John …" person collapses to one entry) and
    the n-gram tail join already drives this exact set through an
    ``F.broadcast`` semi-join — i.e. Spark already collects it to the
    driver. Handing the same set to the scan kernel instead lets
    candidate tail positions be computed IN the scan pass, so sentences
    with no head hit, no anchor and no possible tail start are dropped
    before they cross Arrow, and the survivors explode only their
    candidate positions instead of every token. Above ``max_rows`` the
    caller falls back to the relational posexplode + semi-join path."""
    firsts = tail.select(F.split("key", " ")[0].alias("tok")).distinct()
    rows = firsts.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return None
    spark = tail.sparkSession
    return spark.sparkContext.broadcast(frozenset(r["tok"] for r in rows))


def collect_tail_witness_broadcast(tail: DataFrame,
                                   max_rows: int = 2_000_000):
    """Broadcast a WITNESS-token set for the tail aliases (one selective
    token per alias: first non-stopword, else first — same _WITNESS_STOP
    list as TokenAhoCorasick.witness_tokens), or None above ``max_rows``.
    The load-bearing invariant is only that the picked token is a MEMBER
    token of each tail key (any member is a valid witness); the SQL-side
    F.lower/F.length and Python str.lower/len can diverge on non-ASCII
    tokens, so the picked witness may differ from the Python-side pick —
    harmless, per the invariant. Like the automaton-side pick
    (witness_tokens_rarest), each key contributes its minimal-
    (dictionary-df, position) eligible token — df counted over the tail
    keys — so shared family head tokens stay out of the gate. Feeds the
    sentence-level match gate: at most one token per distinct tail alias,
    typically far fewer after dedup, so it broadcasts whenever the
    first-token set does."""
    toks = F.split("key", " ")
    stop_arr = F.array(*[F.lit(w) for w in sorted(_WITNESS_STOP)])
    keys = tail.select("key").distinct()
    ex = keys.select("key", F.posexplode(toks).alias("pos", "tok"))
    df_tab = ex.groupBy("tok").agg(F.countDistinct("key").alias("df"))
    eligible = ex.filter((F.length("tok") > 1)
                         & ~F.array_contains(stop_arr, F.lower("tok")))
    picked = (eligible.join(df_tab, "tok")
              .groupBy("key")
              .agg(F.min_by("tok", F.struct("df", "pos")).alias("tok")))
    fallback = (keys.join(picked.select("key"), "key", "left_anti")
                .select("key", F.element_at(toks, 1).alias("tok")))
    wits = (picked.select("tok").unionByName(fallback.select("tok"))
            .where(F.col("tok").isNotNull()).distinct())
    rows = wits.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return None
    spark = tail.sparkSession
    return spark.sparkContext.broadcast(frozenset(r["tok"] for r in rows))


def collect_tail_broadcasts(tail: DataFrame, n_tail: int,
                            max_rows: int = 2_000_000):
    """(first_token_bc, witness_bc) for a tail of ``n_tail`` rows. An empty
    tail (every alias fit in the head — common in tests and bounded
    domains; ADVICE r6) skips both driver collect jobs: its sets are empty
    frozensets by definition."""
    if n_tail == 0:
        empty = tail.sparkSession.sparkContext.broadcast(frozenset())
        return empty, empty
    return (collect_first_token_broadcast(tail, max_rows),
            collect_tail_witness_broadcast(tail, max_rows))


def _mapside_union(sent: DataFrame, tail: DataFrame,
                   max_tail_tokens: int, use_cand: bool = False,
                   tail_empty: bool = False) -> DataFrame:
    """Hot-head hits ∪ n-gram tail join over sentence rows
    (url, sent_id, rel_pos, tokens, hits[, cand]).

    ``use_cand`` requires ``sent.cand`` to hold the candidate tail-start
    positions (computed in the scan kernel against the broadcast
    first-token set): the n-gram build then explodes ONLY those positions —
    on filler-heavy web text a >100× row reduction over posexploding every
    token.

    ``tail`` is the materialized (alias, entity, key) tail and
    ``tail_empty`` its known emptiness: an empty tail (every alias fit in
    the head) skips the n-gram explode + two joins, which would still run
    over the whole corpus just to produce zero rows."""
    hot = hot_hits(sent)
    if tail_empty:
        return hot

    if use_cand:
        # candidate positions were marked in the scan pass (same semantics
        # as the semi-join below: token ∈ distinct tail first-tokens)
        pos = sent.select("url", "sent_id", "tokens",
                          F.explode("cand").alias("start"))
    else:
        first_toks = F.broadcast(
            tail.select(F.split("key", " ")[0].alias("tok")).distinct())
        # candidate positions: only where a tail alias could start
        pos = (
            sent.select("url", "sent_id", "tokens",
                        F.posexplode("tokens").alias("start", "tok"))
            .join(first_toks, "tok", "left_semi")
        )
    gram_structs = [
        F.struct(
            F.col("start").alias("start"),
            (F.col("start") + F.lit(n - 1)).alias("end"),
            F.concat_ws(" ", F.slice("tokens", F.col("start") + 1, n))
            .alias("gram"),
        )
        for n in range(1, max_tail_tokens + 1)
    ]
    grams = (
        pos.select("url", "sent_id", "start", F.size("tokens").alias("n_tok"),
                   F.explode(F.array(*gram_structs)).alias("g"))
        .filter(F.col("g.end") < F.col("n_tok"))
        .select("url", "sent_id",
                F.col("g.start").alias("start"),
                F.col("g.end").alias("end"),
                F.col("g.gram").alias("gram"))
    )
    tail_hits = (
        grams.join(tail.select("alias", "entity", F.col("key").alias("gram")),
                   "gram")
        .drop("gram")
        # re-attach sentence context (tokens never ride through the n-gram
        # shuffle; hit rows are a tiny fraction of gram rows)
        .join(sent.select("url", "sent_id", "rel_pos", "tokens"),
              ["url", "sent_id"])
        .select("url", "sent_id", "rel_pos", "tokens",
                "start", "end", "alias", "entity")
    )
    return hot.unionByName(tail_hits)
