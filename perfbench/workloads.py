"""The benchmark's workloads: a corpus shape plus the extract configuration.

Every workload learns its model in anchors mode on the anchored corpus
(patterns need the links as supervision); only the extract side differs.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    persons: int
    fat_kb: int = 0
    # extract input with every [[...]] anchor replaced by its text, the
    # shape of crawled web pages
    web: bool = False
    extract_conf: dict = field(default_factory=dict)


WORKLOADS = {w.name: w for w in (
    Workload("thin_anchored", persons=200),
    Workload("fat_dict_web", persons=200, fat_kb=16, web=True,
             extract_conf=dict(mention_mode="dictionary",
                               dictionary_scan_unanchored=True)),
    # runnable by name; not in BENCHMARK.json (see BASELINE.md)
    Workload("thin_dict_mapside", persons=200, extract_conf=dict(
        mention_mode="dictionary", dictionary_strategy="mapside",
        dictionary_hot_k=50, dictionary_scan_unanchored=True)),
)}
