"""Pure-pandas reference implementation of the full KG pipeline.

This is the parity oracle: the P/R >= 0.95 contract (BASELINE.md) is
measured against the (subj, pred, obj) triple set this module emits. It
uses the *same* shared extraction library as the Spark UDFs, and
implements linking/canonicalization with plain dict/union-find logic —
structurally mirroring the reference's sequential implementation
(`surfactant/relationships/__init__.py:14-30`, `cmd/merge.py:95-202`)
while the Spark engine uses joins/aggregations.
"""

from __future__ import annotations

from typing import Dict, Set, Tuple

import pandas as pd

from .functions.hashing import canon_uuid, sha256_hex
from .functions.textlib import detect_mentions, extract_text, extract_title


class _UnionFind:
    def __init__(self):
        self.parent: Dict[str, str] = {}

    def find(self, x: str) -> str:
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return
        # deterministic: min label wins (matches Spark min-label CC)
        if rb < ra:
            ra, rb = rb, ra
        self.parent[rb] = ra


def canonical_entity_map(alias_pdf: pd.DataFrame) -> Dict[str, str]:
    """alias -> canonical entity name, after unioning entities that
    share any alias (connected components over the alias graph)."""
    uf = _UnionFind()
    for alias, grp in alias_pdf.groupby("alias"):
        ents = sorted(grp["canon_name"].unique())
        for e in ents[1:]:
            uf.union(ents[0], e)
    return {
        row.alias: uf.find(row.canon_name) for row in alias_pdf.itertuples()
    }


def run_oracle(
    pages_pdf: pd.DataFrame, alias_pdf: pd.DataFrame
) -> Tuple[pd.DataFrame, pd.DataFrame, Set[Tuple[str, str, str]]]:
    """Returns (nodes_pdf, edges_pdf, triple_set).

    Node identity: sha256 of html -> canon_uuid (content dedup,
    ref `_sbom.py:75-122`). Uses edges: alias mention -> canonical
    entity -> every canonical node exporting that entity, self-edges
    excluded (ref `java_relationship.py:47`). Contains edges:
    bundle url mention -> canonical node of that url.
    """
    alias_to_ent = canonical_entity_map(alias_pdf)

    rows = []
    for r in pages_pdf.itertuples():
        sha = sha256_hex(bytes(r.html))
        rows.append(
            {
                "url": r.url,
                "warc_ts": r.warc_ts,
                "sha256": sha,
                "uuid": canon_uuid(sha),
                "title": extract_title(bytes(r.html)),
                "text_extracted": extract_text(bytes(r.html)),
                "mentions": detect_mentions(bytes(r.html)),
            }
        )
    ext = pd.DataFrame(rows)

    url_to_uuid = dict(zip(ext.url, ext.uuid))

    # exporters: canonical entity -> set of canonical node uuids
    exporters: Dict[str, Set[str]] = {}
    for r in ext.itertuples():
        ent = alias_to_ent.get(r.title)
        if ent:
            exporters.setdefault(ent, set()).add(r.uuid)

    triple_evidence: Dict[Tuple[str, str, str], Set[str]] = {}
    for r in ext.itertuples():
        for pred, alias, _s, _e in r.mentions:
            if pred == "Uses":
                ent = alias_to_ent.get(alias)
                if not ent:
                    continue
                for target in exporters.get(ent, ()):
                    if target != r.uuid:
                        triple_evidence.setdefault((r.uuid, "Uses", target), set()).add(r.url)
            else:  # Contains carries a url
                target = url_to_uuid.get(alias)
                if target and target != r.uuid:
                    triple_evidence.setdefault((r.uuid, "Contains", target), set()).add(r.url)

    edges = pd.DataFrame(
        [
            {
                "subj_uuid": s,
                "pred": p,
                "obj_uuid": o,
                "n_evidence": len(srcs),
                "sources": sorted(srcs),
            }
            for (s, p, o), srcs in sorted(triple_evidence.items())
        ],
        columns=["subj_uuid", "pred", "obj_uuid", "n_evidence", "sources"],
    )

    nodes = (
        ext.sort_values(["warc_ts", "url"])
        .groupby("sha256", as_index=False)
        .agg(
            canon_uuid=("uuid", "first"),
            names=("title", lambda s: sorted({x for x in s if x})),
            aliases=("url", lambda s: sorted(s)),
            first_seen=("warc_ts", "min"),
            n_sources=("url", "nunique"),
        )
    )[["canon_uuid", "sha256", "names", "aliases", "first_seen", "n_sources"]]

    triple_set = set(triple_evidence.keys())
    return nodes, edges, triple_set


def precision_recall(
    got: Set[Tuple[str, str, str]], want: Set[Tuple[str, str, str]]
) -> Tuple[float, float]:
    if not got and not want:
        return 1.0, 1.0
    tp = len(got & want)
    p = tp / len(got) if got else 0.0
    r = tp / len(want) if want else 0.0
    return p, r
