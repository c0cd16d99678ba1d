"""Record the statistics the benchmark's corpus generator is calibrated to.

    python3 perfbench/calibrate.py PATH/TO/documents.parquet > perfbench/corpus-stats.json

Reads a `documents.parquet` (columns doc_id, text, lang, source) and writes
its document count, the tokens-per-document histogram, every term's total
count and document frequency, the lang and source mixes and the mean text
length. `perfbench/src/perfbench/Gen.scala` draws documents from these
statistics; the benchmark itself never reads the parquet. Needs pyarrow,
which the benchmark run does not.
"""
import collections
import json
import sys

import pyarrow.parquet as pq


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    t = pq.read_table(sys.argv[1], columns=["doc_id", "text", "lang", "source"]).to_pydict()
    tf, df, lens = collections.Counter(), collections.Counter(), collections.Counter()
    for text in t["text"]:
        toks = text.split()
        lens[len(toks)] += 1
        tf.update(toks)
        df.update(set(toks))
    n = len(t["doc_id"])
    stats = {
        "source_file": sys.argv[1].rsplit("/", 2)[-2] + "/" + sys.argv[1].rsplit("/", 1)[-1],
        "docs": n,
        "mean_chars": round(sum(len(x) for x in t["text"]) / n, 4),
        "tokens_per_doc": {str(k): v for k, v in sorted(lens.items())},
        "terms": [{"term": w, "tf": tf[w], "df": df[w]} for w in sorted(tf, key=lambda w: (-tf[w], w))],
        "lang": dict(sorted(collections.Counter(t["lang"]).items(), key=lambda kv: (-kv[1], kv[0]))),
        "sources": len(set(t["source"])),
        "source_is_doc_id_mod_sources": all(
            s == f"src{d % len(set(t['source']))}" for d, s in zip(t["doc_id"], t["source"])),
    }
    json.dump(stats, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
