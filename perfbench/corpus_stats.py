"""Content figures of a documents table, to compare the generator's
shape with real transcripts:

    python3 perfbench/corpus_stats.py <documents.parquet> [...]

Triples come from the DuckDB rule oracle (``triples_sql``); mentions
are normalized as the KG layer does; blocks are the exact linker's
first/last-token blocks over linkable norms (``MAX_MENTION_TOKENS``).
The figures recorded in ``gen.py`` and ``README.md`` were printed by
this script.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openie_spark.config import MAX_BLOCK, MAX_MENTION_TOKENS, STOP_MENTIONS  # noqa: E402
from openie_spark.kg.linking import BLOCK_PREFIX  # noqa: E402
from openie_spark.plans import oracles  # noqa: E402
from perfbench.checks import _norm, oracle_triples  # noqa: E402


def stats(doc_file: str) -> dict:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{doc_file}')")
    turns, sents, words = con.execute(
        "SELECT count(DISTINCT conv_id || '/' || turn_idx), count(*), avg(n_words) FROM ("
        + oracles.sentences_sql() + ")").fetchone()
    con.close()
    triples = oracle_triples(doc_file)
    stops = set(STOP_MENTIONS)
    freq = Counter(n for t in triples for m in (t["subj"], t["obj"])
                   if (n := _norm(m)) and n not in stops)
    f = np.array(sorted(freq.values(), reverse=True), dtype=np.float64)
    hi = min(1000, len(f))
    ranks = np.arange(2, hi + 1)
    zipf_s = -np.polyfit(np.log(ranks), np.log(f[1:hi]), 1)[0] if hi > 2 else 0.0
    blocks = Counter()
    linkable = [n for n in freq if len(set(n.split(" "))) <= MAX_MENTION_TOKENS]
    for n in linkable:
        w = n.split(" ")
        blocks.update({"f|" + w[0][:BLOCK_PREFIX], "l|" + w[-1][:BLOCK_PREFIX]})
    live = sorted((s for s in blocks.values() if s <= MAX_BLOCK), reverse=True)
    return {
        "turns": turns,
        "triples_per_turn": len(triples) / turns,
        "sentences_per_turn": sents / turns,
        "words_per_sentence": words,
        "mentions_per_norm": sum(freq.values()) / len(freq),
        "top_norm_share": f[0] / f.sum(),
        "zipf_s_ranks_2_1000": zipf_s,
        "linkable_norms": len(linkable),
        "capped_blocks": sum(1 for s in blocks.values() if s > MAX_BLOCK),
        "blocks_100_plus": sum(1 for s in live if s >= 100),
        "largest_live_blocks": live[:3] + live[-1:] if len(live) > 3 else live,
        "live_candidate_pairs": sum(s * (s - 1) // 2 for s in live),
    }


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    for path in sys.argv[1:]:
        print(path)
        for k, v in stats(path).items():
            print(f"  {k:22s} {v:.4g}" if isinstance(v, float) else f"  {k:22s} {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
