"""Compares datagen.py's tables with a directory of recorded test tables.

    python3 perfbench/compare_tables.py <recorded_dir> <sf> [seed]

For every table and column (the embedding vectors aside) it compares the row
count, the distinct count and, for non-string columns, the minimum and the
maximum, and prints each statistic that differs. It then prints the
document and embedding statistics that the near-duplicate and similarity
queries depend on, for both sides. The benchmark does not run it; it is the
record of how the generator was checked (see README.md, "Generated tables").
"""
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402


def column_stats(table) -> dict:
    out = {"rows": table.num_rows}
    for c in table.column_names:
        if c == "embedding":
            continue
        v = table.column(c).to_pylist()
        out[c] = (len(set(v)),) if isinstance(v[0], str) else (len(set(v)), min(v), max(v))
    return out


def text_stats(docs, emb) -> str:
    texts = docs.column("text").to_pylist()
    tokens = np.array([len(t.split()) for t in texts])
    vocab = {w for t in texts for w in t.split()}
    dups = sum(t.endswith(" dup") for t in texts)
    vecs = np.array(emb.column("embedding").to_pylist())
    labels = np.array(emb.column("label").to_pylist())
    cos = vecs @ vecs.T
    same = (labels[:, None] == labels[None, :]) & ~np.eye(len(labels), dtype=bool)
    other = labels[:, None] != labels[None, :]
    return (f"documents {len(texts)}: near duplicates {dups / len(texts):.3f}, tokens "
            f"{tokens.min()}-{tokens.max()} (mean {tokens.mean():.1f}), vocabulary {len(vocab)} | "
            f"embeddings {len(labels)} x {vecs.shape[1]}: norm {np.linalg.norm(vecs, axis=1).mean():.3f}, "
            f"same-label cosine {cos[same].mean():.4f}, other-label {cos[other].mean():.4f}")


def main():
    recorded_dir, sf = sys.argv[1], float(sys.argv[2])
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    generated = datagen.tables(seed, sf)
    recorded = {n: pq.read_table(os.path.join(recorded_dir, f"{n}.parquet")) for n in generated}
    total = equal = 0
    for name in sorted(generated):
        if recorded[name].schema != generated[name].schema:
            print(f"  {name}: schema differs")
        a, b = column_stats(recorded[name]), column_stats(generated[name])
        for k in a:
            total += 1
            if a[k] == b.get(k):
                equal += 1
            else:
                print(f"  {name}.{k}: recorded={a[k]} generated={b.get(k)}")
    print(f"sf{sf}: {equal} of {total} statistics equal")
    print("  recorded ", text_stats(recorded["documents"], recorded["embeddings"]))
    print("  generated", text_stats(generated["documents"], generated["embeddings"]))


if __name__ == "__main__":
    main()
