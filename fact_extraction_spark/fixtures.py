"""Deterministic synthetic KG fixture corpus (see /root/repo/FIXTURES.md).

Pure function of ``(seed, n_persons)`` — no wall clock, no global state — so
unit tests, the golden end-to-end test, and both parallelism levels of the
throughput bench all see identical input.

Produces the five fixture tables from FIXTURES.md:
  pages(url, warc_ts, html(binary), text, lang)
  facts(subj, pred, obj)
  types(entity, type)
  redirects(alias, target)
  ground_truth(subj, pred, obj)

Skew injections (FIXTURES.md §1): one giant page (>=500 paragraphs), one
mega-entity hub linked from ~30% of pages, one entity reachable only via a
redirect alias, one alias differing only in first-letter case (exercises the
capitalize hotfix, reference tagged_sentence.py:232-233).
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass, field

from fact_extraction_spark.textops.wikitext import extract_article_text

RELATIONS = ("birthPlace", "almaMater", "employer")

# Templates per relation. "{obj}" is replaced by a wikitext link to the
# object. Shared core phrases ("born in", "graduated from") make the lexical
# token-window patterns learnable, exactly like the reference's dependency
# patterns accumulate word frequencies across sentences.
_TEMPLATES = {
    "birthPlace": [
        "{first} was born in {obj} during a cold winter.",
        "{first} was born in {obj} and raised by teachers.",
        "Records show {first} was born in {obj} near the old river.",
    ],
    "almaMater": [
        "{first} graduated from {obj} with honors.",
        "{first} studied physics and graduated from {obj} years later.",
        "After school, {first} graduated from {obj} in the spring.",
    ],
    "employer": [
        "{first} worked for {obj} as a senior engineer.",
        "For a decade {first} worked for {obj} in the city office.",
        "{first} later worked for {obj} on large projects.",
    ],
}

# Distractor sentences with links that express no trained relation.
_DISTRACTORS = [
    "{first} once visited {obj} on holiday.",
    "{first} wrote a letter about {obj} to a friend.",
    "A documentary about {obj} mentioned {first} briefly.",
]

_SYLLABLES = ["bar", "vel", "mon", "ris", "tor", "hal", "qua", "zen", "pol", "gar",
              "lin", "mer", "ost", "dra", "fen", "kel", "nor", "sul", "tam", "wix"]

_FIRST_NAMES = ["Alice", "Boris", "Carla", "Dmitri", "Elena", "Farid", "Greta",
                "Hugo", "Irene", "Jonas", "Katya", "Lionel", "Marta", "Nils",
                "Olga", "Pavel", "Quinn", "Rosa", "Sven", "Tania"]
_LAST_SUFFIX = ["son", "wick", "berg", "field", "gate", "holm", "stead", "worth"]

HUB_CITY = "Grandmere_City"          # mega-entity hub: hot alias / skewed key
REDIRECT_ONLY_CITY = "Veldt_Harbor"  # reachable only via its alias
GIANT_PAGE_PERSON = "Giant_Chronicle"  # the >=500-paragraph page


def _mkname(rng: random.Random, syllables: int = 3) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(syllables)).capitalize()


@dataclass
class FixtureCorpus:
    pages: list[dict] = field(default_factory=list)
    facts: list[dict] = field(default_factory=list)
    types: list[dict] = field(default_factory=list)
    redirects: list[dict] = field(default_factory=list)
    ground_truth: list[dict] = field(default_factory=list)
    training_subjects: set[str] = field(default_factory=set)
    test_subjects: set[str] = field(default_factory=set)


def _wikilink(title: str) -> str:
    return "[[" + title.replace("_", " ") + "]]"


# neutral filler vocabulary for fat pages — deliberately lowercase common
# words so no filler token can collide with a generated entity alias
# (aliases are Capitalized _SYLLABLES compounds) and trip the dictionary
# automaton or the keeps-a-link filter
_FILLER_WORDS = (
    "harvest meadow lantern archive village chronicle season market "
    "journey letter winter garden festival bridge valley orchard record "
    "evening council road candle story stone river weather neighbor"
).split()


def _filler_paragraphs(rng: random.Random, first: str,
                       target_bytes: int) -> list[list[str]]:
    """Deterministic unanchored filler totalling ~``target_bytes`` of raw
    wikitext, with cascade-exercising noise mixed in (templates, paired
    refs, comments — all of which stage 1 must strip). Models the real
    web-text shape where fact-bearing sentences are a tiny fraction of
    page bytes. Every filler sentence names the subject, modelling body
    prose."""
    paras: list[list[str]] = []
    size = 0
    i = 0
    while size < target_bytes:
        words = [rng.choice(_FILLER_WORDS) for _ in range(rng.randint(28, 44))]
        cut = len(words) // 2
        sent = (f"{first} noted the {' '.join(words[:cut])} that year. "
                f"The {' '.join(words[cut:])} remained in the record.")
        if i % 5 == 2:
            sent += " {{cite journal | title = %s }}" % " ".join(words[:4])
        if i % 7 == 3:
            sent += "<ref>%s</ref>" % " ".join(words[:5])
        if i % 11 == 4:
            sent += "<!-- fixture noise block -->"
        paras.append([sent])
        size += len(sent) + 2
        i += 1
    return paras


def _person_wikitext(rng: random.Random, first: str, sentences: list[str],
                     giant: bool = False, fat_kb: int = 0) -> str:
    """Assemble a page's raw wikitext: infobox + noise + sentence paragraphs.

    ``fat_kb`` > 0 pads the page with ~that many KiB of deterministic
    unanchored filler (see ``_filler_paragraphs``) — the realistic web-page
    shape (tens of KB/page, mostly non-fact text) for text-stage cost
    measurement. 0 (default) keeps the historical compact pages so every
    existing oracle row and bench corpus is byte-identical."""
    parts = [
        "{{Infobox person | name = %s | noise = {{nested|template}} }}" % first,
        "<!-- autogenerated fixture page -->",
        "== Early life ==",
    ]
    # group sentences into paragraphs of 1-3
    paras: list[list[str]] = []
    for s in sentences:
        if paras and len(paras[-1]) < 3 and rng.random() < 0.5:
            paras[-1].append(s)
        else:
            paras.append([s])
    if giant:
        # replicate filler paragraphs to build a >=500-paragraph page
        filler = [f"{first} kept a journal entry number {i} about the harvest."
                  for i in range(520)]
        paras.extend([[f] for f in filler])
    if fat_kb > 0:
        paras.extend(_filler_paragraphs(rng, first, fat_kb * 1024))
    body = []
    for p in paras:
        body.append(" ".join(p))
    noise_tail = (
        "== References ==\n<ref>dropped reference</ref>\n"
        "[[Category:Fixture people]]\n"
        "[[File:Portrait.jpg|thumb|a [[nested link]] caption]]\n"
    )
    return "\n".join(parts) + "\n\n" + "\n\n".join(body) + "\n\n" + noise_tail


def generate_corpus(seed: int = 42, n_persons: int = 120) -> FixtureCorpus:
    """Build the full fixture corpus. Deterministic in (seed, n_persons)."""
    rng = random.Random(seed)
    fx = FixtureCorpus()

    n_cities = max(6, n_persons // 10)
    n_unis = max(4, n_persons // 15)
    n_cos = max(4, n_persons // 15)
    cities = [HUB_CITY, REDIRECT_ONLY_CITY] + [
        _mkname(rng) + "_City" for _ in range(n_cities - 2)]
    unis = [_mkname(rng) + "_University" for _ in range(n_unis)]
    cos = [_mkname(rng) + "_Works" for _ in range(n_cos)]
    obj_pool = {"birthPlace": cities, "almaMater": unis, "employer": cos}

    for c in cities:
        fx.types.append({"entity": c, "type": "Settlement"})
        fx.types.append({"entity": c, "type": "Place"})
    for u in unis:
        fx.types.append({"entity": u, "type": "University"})
        fx.types.append({"entity": u, "type": "Organisation"})
    for co in cos:
        fx.types.append({"entity": co, "type": "Company"})
        fx.types.append({"entity": co, "type": "Organisation"})

    # redirect fixtures: alias-only city + a 2-hop chain + case variant
    fx.redirects.append({"alias": "Veldt_Haven", "target": REDIRECT_ONLY_CITY})
    fx.redirects.append({"alias": "Old_Veldt", "target": "Veldt_Haven"})  # 2-hop
    fx.redirects.append({"alias": "grandmere_City", "target": HUB_CITY})  # case
    fx.redirects.append({"alias": "The_Grand_City", "target": HUB_CITY})

    persons: list[str] = []
    for i in range(n_persons):
        first = _FIRST_NAMES[i % len(_FIRST_NAMES)]
        last = _mkname(rng, 2) + rng.choice(_LAST_SUFFIX)
        persons.append(f"{first}_{last}")
    persons.append(GIANT_PAGE_PERSON)

    # ~20% of persons are held-out test subjects (leak-check disjointness)
    n_test = max(3, len(persons) // 5)
    test_set = set(persons[-n_test:])
    fx.test_subjects = test_set
    fx.training_subjects = set(persons) - test_set

    base_ts = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
    for row_idx, person in enumerate(persons):
        first = person.split("_")[0]
        sentences: list[str] = []
        is_giant = person == GIANT_PAGE_PERSON
        for pred in RELATIONS:
            if rng.random() < 0.8:  # most persons express most relations
                pool = obj_pool[pred]
                # hub skew: ~30% of birthPlace facts point at the hub city
                if pred == "birthPlace" and rng.random() < 0.3:
                    obj = HUB_CITY
                else:
                    obj = rng.choice(pool)
                tmpl = rng.choice(_TEMPLATES[pred])
                # occasionally express the object via its redirect alias
                link_title = obj
                if obj == REDIRECT_ONLY_CITY:
                    link_title = "Veldt_Haven"
                sentences.append(tmpl.format(first=first, obj=_wikilink(link_title)))
                fx.facts.append({"subj": person, "pred": pred, "obj": obj})
                if person in test_set:
                    fx.ground_truth.append({"subj": person, "pred": pred, "obj": obj})
        # an unexpressed fact (coverage < 100%): in facts, not in any sentence
        if rng.random() < 0.3:
            obj = rng.choice(cities)
            fx.facts.append({"subj": person, "pred": "deathPlace", "obj": obj})
        # distractor sentence with a link but no trained relation
        if rng.random() < 0.6:
            obj = rng.choice(cities + unis + cos)
            sentences.append(
                rng.choice(_DISTRACTORS).format(first=first, obj=_wikilink(obj)))
        rng.shuffle(sentences)
        fx.types.append({"entity": person, "type": "Person"})
        if rng.random() < 0.3:
            fx.types.append({"entity": person, "type": "Agent"})

        raw = _person_wikitext(rng, first, sentences, giant=is_giant)
        text = extract_article_text(raw)
        fx.pages.append({
            "url": "https://en.wikipedia.org/wiki/" + person,
            "warc_ts": base_ts + _dt.timedelta(seconds=row_idx),
            "html": raw.encode("utf-8"),
            "text": text,
            "lang": "de" if row_idx % 37 == 5 else "en",
        })

    # short object pages (so links resolve to real rows; no facts inside)
    for row_idx, title in enumerate(cities + unis + cos):
        raw = ("{{Infobox place}}\nThe town of %s is known for festivals.\n\n"
               "== References ==\n") % title.replace("_", " ")
        fx.pages.append({
            "url": "https://en.wikipedia.org/wiki/" + title,
            "warc_ts": base_ts + _dt.timedelta(days=1, seconds=row_idx),
            "html": raw.encode("utf-8"),
            "text": extract_article_text(raw),
            "lang": "en",
        })

    # a type-less person (exercises allow_unknown_entity_types) — remove types
    if persons:
        untyped = persons[len(persons) // 2]
        fx.types = [t for t in fx.types if t["entity"] != untyped]

    # malformed/NT-drop fixtures: `__`-entities must be skipped by NT scan
    fx.facts.append({"subj": "Bad__Entity", "pred": "birthPlace", "obj": cities[0]})
    return fx


# --------------------------------------------------------------------------
# Spark materialization helpers
# --------------------------------------------------------------------------

_PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def corpus_to_dataframes(spark, fx: FixtureCorpus, partitions: int = 8):
    """Materialize the corpus as DataFrames (pages partitioned by url hash)."""
    from pyspark.sql import Row

    pages = spark.createDataFrame(
        [Row(**p) for p in fx.pages], schema=_PAGES_DDL
    ).repartition(partitions, "url")
    facts = spark.createDataFrame(
        [Row(**f) for f in fx.facts], schema="subj string, pred string, obj string")
    types = spark.createDataFrame(
        [Row(**t) for t in fx.types], schema="entity string, type string")
    redirects = spark.createDataFrame(
        [Row(**r) for r in fx.redirects], schema="alias string, target string")
    gt = spark.createDataFrame(
        [Row(**g) for g in fx.ground_truth],
        schema="subj string, pred string, obj string")
    return {"pages": pages, "facts": facts, "types": types,
            "redirects": redirects, "ground_truth": gt}
