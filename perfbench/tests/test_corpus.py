"""The load generator: deterministic, and padding changes only the bytes."""

import pyarrow.parquet as pq

from perfbench.corpus import TABLES, strip_anchors, write_corpus


def read(path, name):
    return sorted(pq.read_table(f"{path}/{name}.parquet").to_pylist(),
                  key=lambda r: tuple(map(str, r.values())))


def test_strip_anchors_keeps_the_link_text():
    raw = "born in [[Veldt Haven]] and studied at [[Foo_U|Foo]]."
    assert strip_anchors(raw) == "born in Veldt Haven and studied at Foo."


def test_fat_corpus_differs_from_thin_only_in_page_bytes(tmp_path):
    thin, fat, again = (str(tmp_path / d) for d in ("thin", "fat", "again"))
    facts = write_corpus(3, 12, 0, thin, files=2)
    assert write_corpus(3, 12, 4, fat, files=3) == facts
    write_corpus(3, 12, 4, again, files=3)
    for name in TABLES:
        assert read(fat, name) == read(again, name)      # deterministic
        if name not in ("pages", "web_pages"):
            assert read(fat, name) == read(thin, name)
    thin_pages, fat_pages = read(thin, "pages"), read(fat, "pages")
    assert [p["url"] for p in thin_pages] == [p["url"] for p in fat_pages]
    padded = sum(len(f["html"]) - len(t["html"]) > 4000
                 for t, f in zip(thin_pages, fat_pages))
    assert padded == 13                                   # 12 + the giant
    assert not any(b"[[" in p["html"] for p in read(fat, "web_pages"))
