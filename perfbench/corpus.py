"""The load generator: a workload's corpus, written as parquet without Spark.

The corpus is ``fixtures.generate_corpus(seed, persons)``, a pure function
of its arguments. Fat workloads pad every person page with the fixtures'
deterministic subject-naming filler, so facts, types and the extracted
triple set stay those of the thin corpus. The web variant of the pages
(every ``[[...]]`` anchor replaced by its text) is written beside them.
Generation takes well under a second at the benchmark's sizes, so it runs
on every run and no JVM time is spent on it.
"""

from __future__ import annotations

import os
import random
import re

TABLES = ("pages", "web_pages", "facts", "types", "redirects",
          "ground_truth")
_TAIL = "\n\n== References =="
_PIPED = re.compile(r"\[\[([^|\]]*)\|([^\]]*)\]\]")
_PLAIN = re.compile(r"\[\[([^\]]*)\]\]")


def strip_anchors(raw: str) -> str:
    """``[[t|text]]`` -> ``text`` and ``[[t]]`` -> ``t``."""
    return _PLAIN.sub(r"\1", _PIPED.sub(r"\2", raw))


def fatten(raw: str, seed: int, url: str, fat_kb: int) -> str:
    """``raw`` with about ``fat_kb`` KiB of filler paragraphs before its
    references section."""
    from fact_extraction_spark.fixtures import _filler_paragraphs
    first = url.rsplit("/", 1)[1].split("_")[0]
    paras = _filler_paragraphs(random.Random(f"{seed}:{url}"), first,
                               fat_kb * 1024)
    filler = "\n\n".join(" ".join(p) for p in paras)
    head, sep, tail = raw.rpartition(_TAIL)
    return head + "\n\n" + filler + sep + tail


def write_corpus(seed: int, persons: int, fat_kb: int, out_dir: str,
                 files: int) -> set[tuple[str, str, str]]:
    """Writes every table of ``TABLES`` to ``out_dir/<name>.parquet``; the
    page tables are split into ``files`` files, one scan task each.
    Returns the known facts as (subj, pred, obj) tuples."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from fact_extraction_spark.fixtures import generate_corpus
    from fact_extraction_spark.textops.wikitext import extract_article_text

    fx = generate_corpus(seed, persons)
    pages, web = [], []
    # person pages (the giant one last) come before the object pages
    for i, p in enumerate(fx.pages):
        raw = p["html"].decode("utf-8")
        if fat_kb and i <= persons:
            raw = fatten(raw, seed, p["url"], fat_kb)
            p = {**p, "html": raw.encode("utf-8"),
                 "text": extract_article_text(raw)}
        pages.append(p)
        bare = strip_anchors(raw)
        web.append({**p, "html": bare.encode("utf-8"),
                    "text": extract_article_text(bare)})

    page_schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
    triple = pa.schema([("subj", pa.string()), ("pred", pa.string()),
                        ("obj", pa.string())])
    for name, rows, schema in (
            ("pages", pages, page_schema), ("web_pages", web, page_schema),
            ("facts", fx.facts, triple), ("ground_truth", fx.ground_truth,
                                          triple),
            ("types", fx.types, pa.schema([("entity", pa.string()),
                                           ("type", pa.string())])),
            ("redirects", fx.redirects, pa.schema([("alias", pa.string()),
                                                   ("target", pa.string())]))):
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        n = files if schema is page_schema else 1
        for i in range(n):
            part = pa.Table.from_pylist(rows[i::n], schema=schema)
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))
    return {(f["subj"], f["pred"], f["obj"]) for f in fx.facts}
