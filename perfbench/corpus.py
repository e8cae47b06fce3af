"""Seeded extraction corpus with a fixed composition.

`write_corpus` draws every document's span count, span kinds and media
formats from its seed, so two seeds give corpora whose decode cost differs
by several percent (a few color JPEGs more or less).  A benchmark that
runs on a new seed each time needs the content to vary and the amount of
work not to.  `write_fixed_mix` therefore generates a larger seeded pool
with `write_corpus` and keeps media spans, in the pool's documents, until
per-class quotas are met (classes: the codec each payload's header
selects, or the quarantine reason of a payload no codec takes).  A kept
document loses its other media spans (from the input and the golden
output alike: spans are extracted independently, and the output is
ordered by offset), and text-only documents pad the selection to a fixed
document count.  The four tables keep the pool's schemas and stay
consistent with each other.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.replay import sniff

TABLES = ("documents", "media_store", "golden_spans", "golden_quarantine")


def _classify(pool: dict[str, str]) -> tuple[list[str], list[int], list[list[tuple[str, str]]]]:
    """doc ids, their span counts and, per document, (media_ref, class) of
    each media span."""
    def column_map(path: str, key: str, value: str) -> dict:
        cols = pq.read_table(path, columns=[key, value]).to_pydict()
        return dict(zip(cols[key], cols[value]))

    reason = column_map(pool["golden_quarantine"], "media_ref", "reason")
    payload = column_map(pool["media_store"], "media_ref", "payload")

    def media_class(ref: str) -> str:
        if ref in reason:
            return reason[ref]
        return sniff(payload[ref]) if ref in payload else "missing"

    docs = pq.read_table(pool["documents"], columns=["doc_id", "spans"]).to_pydict()
    media = [
        [(s["media_ref"], media_class(s["media_ref"])) for s in spans if s["kind"] == "media"]
        for spans in docs["spans"]
    ]
    return docs["doc_id"], [len(spans) for spans in docs["spans"]], media


def _keep_spans(table: pa.Table, docs: set[str], refs: set[str]) -> pa.Table:
    """Rows of `docs`, without the media spans whose ref is not in `refs`."""
    rows = [r for r in table.to_pylist() if r["doc_id"] in docs]
    for r in rows:
        r["spans"] = [s for s in r["spans"] if s["kind"] != "media" or s["media_ref"] in refs]
    rows.sort(key=lambda r: r["doc_id"])
    return pa.Table.from_pylist(rows, schema=table.schema)


def write_fixed_mix(
    out_dir: str, pool: dict[str, str], quota: dict[str, int], n_docs: int
) -> dict[str, str]:
    """Select from `pool` (paths from `write_corpus`) into `out_dir`;
    returns the paths of the four tables.  Raises ValueError when the pool
    cannot fill every quota or `n_docs` documents."""
    paths = {t: os.path.join(out_dir, f"{t}.parquet") for t in TABLES}
    marker = os.path.join(out_dir, "selection.json")
    params = {"pool": pool["documents"], "quota": quota, "n_docs": n_docs, "fmt": 2}
    if os.path.exists(marker):
        with open(marker) as f:
            done = json.load(f)
        if done["params"] == params:
            return paths
    doc_ids, n_spans, media = _classify(pool)
    counts: Counter = Counter()
    chosen: set[str] = set()
    refs: set[str] = set()
    # documents holding a rare class (one with a small quota) are visited
    # first, then those with more media, so that few documents carry the
    # quotas and the rest of the places go to text-only documents
    order = sorted(
        range(len(media)),
        key=lambda i: (min((quota.get(c, 0) for _, c in media[i]), default=0), -len(media[i])),
    )
    for i in order:
        for ref, c in media[i]:
            if counts[c] < quota.get(c, 0):
                counts[c] += 1
                refs.add(ref)
                chosen.add(doc_ids[i])
    if counts != Counter(quota):
        raise ValueError(f"pool does not fill the quota: {dict(counts)} of {quota}")
    # a document without spans drops out of the output, so it is not taken
    text_only = [d for d, n, m in zip(doc_ids, n_spans, media) if n and not m]
    chosen.update(text_only[: max(0, n_docs - len(chosen))])
    if len(chosen) != n_docs:
        raise ValueError(f"selection has {len(chosen)} documents, not {n_docs}")
    os.makedirs(out_dir, exist_ok=True)
    for name in ("documents", "golden_spans"):
        pq.write_table(_keep_spans(pq.read_table(pool[name]), chosen, refs), paths[name])
    media_store = pq.read_table(pool["media_store"])
    pq.write_table(
        media_store.filter(pc.is_in(media_store["media_ref"], pa.array(sorted(refs)))),
        paths["media_store"],
    )
    quarantine = pq.read_table(pool["golden_quarantine"])
    pq.write_table(
        quarantine.filter(pc.is_in(quarantine["media_ref"], pa.array(sorted(refs)))),
        paths["golden_quarantine"],
    )
    with open(marker, "w") as f:
        json.dump({"params": params, "classes": dict(counts)}, f)
    return paths
