"""Output checks for the KG-build benchmark, run outside the timed
region. Stage tables are read from disk with pyarrow and compared as
row multisets, so a check launches no Spark job unless it needs a
Spark-side reference (the fused neural tagger).

* rule triples: the DuckDB oracle ``triples_sql`` recomputes them
  from the same ``documents.parquet`` files, independently of the
  Spark plans;
* neural triples: row-identical to ``backend="neural_fused"`` on the
  same input;
* graphs: nodes / edges / relations equal a from-scratch reference
  (``kg_reference``) over the triples they were built from - for a
  merge, the prior's and the delta's together;
* recovery: the prefix stages report ``resumed``, the suffix is
  rebuilt, and the recovered graph equals the reference.
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import re
from collections import defaultdict

import duckdb
import pyarrow.parquet as pq

from openie_spark.config import (
    LINK_JACCARD,
    LSH_BANDS,
    LSH_ROWS,
    MAX_BLOCK,
    MAX_MENTION_TOKENS,
    STOP_MENTIONS,
)
from openie_spark.kg.linking import BLOCK_PREFIX
from openie_spark.plans import oracles

TRIPLE_COLS = ["conv_id", "turn_idx", "sent_idx", "ext_idx", "sent", "pred",
               "subj", "obj", "confidence"]
NODE_COLS = ["entity_id", "canonical", "n_aliases", "freq"]
EDGE_COLS = ["src_id", "dst_id", "pred", "conv_id", "turn_idx", "sent_idx", "ext_idx"]
REL_COLS = ["src_id", "dst_id", "pred", "n_mentions", "n_convs"]
GRAPH_COLS = {"nodes": NODE_COLS, "edges": EDGE_COLS, "relations": REL_COLS}
# stages a resume after a crash past `vocab` rebuilds
SUFFIX = ("pairs", "components", "nodes", "edges", "relations")
PREFIX = ("triples", "triples_norm", "vocab")


def _cell(v):
    if isinstance(v, list):
        return tuple(_cell(x) for x in v)
    if isinstance(v, float):
        return repr(v)
    return v


def rows(records: list[dict], cols: list[str]) -> list[tuple]:
    return sorted((tuple(_cell(r[c]) for c in cols) for r in records), key=repr)


def stage_rows(out_dir: str, stage: str, cols: list[str] | None = None) -> list[tuple]:
    t = pq.read_table(os.path.join(out_dir, stage))
    cols = cols or sorted(c for c in t.column_names if c != "bucket")
    return rows(t.select(cols).to_pylist(), cols)


def resume_problems(summary: dict) -> list[str]:
    """A recovery must resume the prefix and rebuild the suffix."""
    st = summary["stages"]
    return ([f"{s} not resumed" for s in PREFIX if not st[s]["resumed"]]
            + [f"{s} not rebuilt" for s in SUFFIX if st[s]["resumed"]])


def _normalize(rs: list[tuple]) -> list[tuple]:
    # pandas hands DuckDB integers back as numpy scalars
    return sorted((tuple(v.item() if hasattr(v, "item") else v for v in r) for r in rs),
                  key=repr)


def oracle_triples(doc_file: str) -> list[dict]:
    """``triples_sql`` (the DuckDB oracle of the rule extractor) over
    one documents file."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{doc_file}')")
        return con.execute(oracles.triples_sql()).df()[TRIPLE_COLS].to_dict("records")
    finally:
        con.close()


_NON_ALNUM = re.compile(r"[^a-z0-9 ]")
_SPACES = re.compile(r"\s+")


def _norm(m: str) -> str:
    return _SPACES.sub(" ", _NON_ALNUM.sub("", m.lower())).strip()


def _md5h60(x: str) -> int:
    return int(hashlib.md5(x.encode()).hexdigest()[:15], 16)


@functools.lru_cache(maxsize=None)
def _slot_hashes(shingle: str) -> tuple[int, ...]:
    return tuple(_md5h60(f"{shingle}#{k}") for k in range(LSH_BANDS * LSH_ROWS))


@functools.lru_cache(maxsize=None)
def _minhash_bands(norm: str) -> tuple[tuple[int, int], ...]:
    """(band, band hash) of a norm, as ``oracles._minhash_ctes``
    defines them: char 3-shingles, md5h60(shingle || '#k') slots,
    md5h60 of each band's ','-joined slots."""
    n = len(norm)
    slots = [_slot_hashes(norm[i:i + 3]) for i in range(max(n - 2, 1))]
    sig = [min(col) for col in zip(*slots)]
    return tuple((b, _md5h60(",".join(str(v) for v in sig[b * LSH_ROWS:(b + 1) * LSH_ROWS])))
                 for b in range(LSH_BANDS))


def _exact_candidates(linkable: list[str], toks: dict) -> list[list[str]]:
    """Groups whose members are pair candidates of the exact linker:
    first/last-token blocking with the hot-block cap, narrowed by an
    exact prefix filter (a pair with Jaccard >= t shares a token among
    the first |A| - ceil(t|A|) + 1 tokens of A in a global order)."""
    keys = {}
    block_size: dict[str, int] = defaultdict(int)
    for n in linkable:
        w = n.split(" ")
        keys[n] = {"f|" + w[0][:BLOCK_PREFIX], "l|" + w[-1][:BLOCK_PREFIX]}
        for k in keys[n]:
            block_size[k] += 1
    live = {n: frozenset(k for k in keys[n] if block_size[k] <= MAX_BLOCK) for n in linkable}
    df: dict[str, int] = defaultdict(int)
    for n in linkable:
        for tok in toks[n]:
            df[tok] += 1
    index: dict[tuple, list[str]] = defaultdict(list)
    for n in linkable:
        order = sorted(toks[n], key=lambda x: (df[x], x))
        k = len(order)
        for tok in order[:k - math.ceil(LINK_JACCARD * k - 1e-9) + 1]:
            for bk in live[n]:           # candidates must share a live block
                index[(tok, bk)].append(n)
    return list(index.values())


def linked_pairs(norms, pair_mode: str = "exact") -> set[tuple[str, str]]:
    """Pairs ``(a, b)``, ``a < b``, of vocabulary norms that the linker
    of ``pair_mode`` proposes and token-Jaccard verifies: the
    ``pairs`` of ``oracles._kg_ctes`` (exact) or the ``mh_pairs`` of
    ``oracles._minhash_ctes`` (minhash)."""
    toks = {n: frozenset(n.split(" ")) for n in norms}
    linkable = sorted(n for n in toks if len(toks[n]) <= MAX_MENTION_TOKENS)
    if pair_mode == "exact":
        groups = _exact_candidates(linkable, toks)
    else:
        buckets: dict[tuple, list[str]] = defaultdict(list)
        for n in linkable:
            for bh in _minhash_bands(n):
                buckets[bh].append(n)
        groups = list(buckets.values())
    seen, out = set(), set()
    for members in groups:
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                pair = (a, b) if a < b else (b, a)
                if pair in seen:
                    continue
                seen.add(pair)
                inter = len(toks[a] & toks[b])
                if inter / (len(toks[a]) + len(toks[b]) - inter) >= LINK_JACCARD:
                    out.add(pair)
    return out


def kg_reference(triples: list[dict], pair_mode: str = "exact") -> dict[str, list[tuple]]:
    """From-scratch nodes / edges / relations over triples, in plain
    Python: the semantics of the DuckDB KG oracles
    (``oracles._kg_ctes``, and ``oracles._minhash_ctes`` for
    ``pair_mode="minhash"``) - normalized non-stop mentions,
    vocabulary, candidate pairs verified by token-Jaccard, min-member
    connected components, md5 entity ids."""
    stops = set(STOP_MENTIONS)
    freq: dict[str, int] = defaultdict(int)
    tnorm = []
    for t in triples:
        s, o = _norm(t["subj"]), _norm(t["obj"])
        tnorm.append((t, s, o))
        for m in (s, o):
            if m and m not in stops:
                freq[m] += 1
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in linked_pairs(freq, pair_mode):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {n: find(n) for n in freq}
    eid = {c: hashlib.md5(c.encode()).hexdigest() for c in set(comp.values())}
    nodes: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for n, f in freq.items():
        nodes[comp[n]][0] += 1
        nodes[comp[n]][1] += f
    edges = [(eid[comp[s]], eid[comp[o]], t["pred"], t["conv_id"], t["turn_idx"],
              t["sent_idx"], t["ext_idx"])
             for t, s, o in tnorm if s in comp and o in comp]
    rel: dict[tuple, list] = defaultdict(lambda: [0, set()])
    for e in edges:
        r = rel[e[:3]]
        r[0] += 1
        r[1].add(e[3])
    return {
        "nodes": sorted(((eid[c], c, a, f) for c, (a, f) in nodes.items()), key=repr),
        "edges": sorted(edges, key=repr),
        "relations": sorted(((*k, n, len(c)) for k, (n, c) in rel.items()), key=repr),
    }


def graph_rows(out_dir: str) -> dict[str, list[tuple]]:
    return {s: stage_rows(out_dir, s, cols) for s, cols in GRAPH_COLS.items()}


def graph_problems(want: dict[str, list[tuple]], out_dir: str) -> list[str]:
    return [f"{s} differ from the reference" for s, rs in want.items()
            if _normalize(rs) != _normalize(stage_rows(out_dir, s, GRAPH_COLS[s]))]


def triples_problems(want: list[dict], out_dir: str) -> list[str]:
    got = _normalize(stage_rows(out_dir, "triples", TRIPLE_COLS))
    return [] if got == _normalize(rows(want, TRIPLE_COLS)) else ["triples differ from the oracle"]
