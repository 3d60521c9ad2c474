"""Measures the document statistics that the `neardup` generator
(NearDupData in src/graft/perfbench/Gen.scala) copies: word-count range,
vocabulary and word frequencies, exact-copy rate, and the rate and trigram
Jaccard of near-duplicate pairs. Reads a `documents.parquet` with a `text`
column, such as the sf0.1 table of the repository's test data:

    python3 perfbench/profile_documents.py path/to/documents.parquet

Needs pyarrow. The benchmark itself does not run this script.
"""
import collections
import itertools
import statistics
import sys

import pyarrow.parquet as pq


def trigrams(words):
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def main(path):
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    words = [t.lower().split() for t in texts]
    lens = [len(w) for w in words]
    print("documents: %d" % len(texts))
    print("words per document: min %d, median %g, mean %.1f, max %d"
          % (min(lens), statistics.median(lens), statistics.mean(lens), max(lens)))
    freq = collections.Counter(w for ws in words for w in ws)
    print("vocabulary: %d words" % len(freq))
    for w, n in freq.most_common():
        print("  %-10s %d" % (w, n))
    print("exact copies: %d" % (len(texts) - len(set(texts))))
    # pairs that share a trigram, then their exact Jaccard
    sets = [trigrams(w) for w in words]
    docs_of = collections.defaultdict(list)
    for d, s in enumerate(sets):
        for g in s:
            docs_of[g].append(d)
    shared = collections.Counter()
    for ds in docs_of.values():
        for a, b in itertools.combinations(ds, 2):
            shared[(a, b)] += 1
    near = sorted(n / (len(sets[a]) + len(sets[b]) - n)
                  for (a, b), n in shared.items()
                  if n / (len(sets[a]) + len(sets[b]) - n) >= 0.5)
    print("pairs with trigram Jaccard >= 0.5: %d (%.2f%% of documents), Jaccard %.3f..%.3f"
          % (len(near), 100.0 * len(near) / len(texts), near[0], near[-1]) if near else
          "pairs with trigram Jaccard >= 0.5: 0")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
