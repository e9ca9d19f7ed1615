"""Seeded training-document generator with ground truth, for `doc_prep`.

Writes `docs.jsonl` (doc_id, text, source, lang) and `eval.jsonl` (the
benchmark set the corpus is decontaminated against), in the shape
dev/gen_scale_tables.py scales up, but keyed by the seed. The corpus mixes:

- unique clean documents (random words, no stopwords, no repetition),
  a few of them longer than the packing budget;
- near-duplicate families: a base document and variants with a few words
  substituted;
- exact duplicates of clean originals, always with a higher doc_id than
  the original, so the original is the one dedup keeps;
- eval-contaminated documents carrying a 15-30 word span of an eval text;
- low-quality documents (too short, or stopword-heavy).

`manifest.json` lists the ids of every planted class the benchmark checks.
Single-threaded; the same seed gives identical files.

Usage: python3 gen_docs.py <out_dir> <n_docs> <seed>
"""
import json
import os
import random
import sys

SOURCES = ["web", "books", "forums", "wiki"]
LANGS = ["en", "en", "en", "de", "fr", "es"]
EVAL_DOCS = 300


def vocabulary(rng, n=6000):
    letters = "bcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters)
                          for _ in range(rng.randint(3, 10))))
    return sorted(words)


def generate(out_dir, n_docs, seed):
    rng = random.Random(seed)
    vocab = vocabulary(rng)

    def text(lo, hi):
        return rng.choices(vocab, k=rng.randint(lo, hi))

    eval_texts = [text(40, 80) for _ in range(EVAL_DOCS)]
    n_unique = int(n_docs * 0.60)
    n_oversize = max(2, n_docs // 200)
    n_family = int(n_docs * 0.20)
    n_dup = int(n_docs * 0.08)
    n_contam = int(n_docs * 0.06)
    n_low = n_docs - n_unique - n_oversize - n_family - 2 * n_dup - n_contam

    docs = []  # (class, words)
    docs += [("unique", text(30, 200)) for _ in range(n_unique)]
    docs += [("unique", text(520, 700)) for _ in range(n_oversize)]
    while n_family > 0:
        base = text(40, 160)
        size = min(n_family, rng.randint(3, 5))
        docs.append(("family", base))
        for _ in range(size - 1):
            variant = list(base)
            for i in rng.sample(range(len(base)),
                                max(1, len(base) * rng.randint(3, 8) // 100)):
                variant[i] = rng.choice(vocab)
            docs.append(("family", variant))
        n_family -= size
    for _ in range(n_contam):
        words = text(30, 150)
        src = rng.choice(eval_texts)
        span = rng.randint(15, 30)
        start = rng.randint(0, len(src) - span)
        at = rng.randint(0, len(words))
        docs.append(("contaminated", words[:at] + src[start:start + span] +
                     words[at:]))
    for i in range(n_low):
        if i % 2:
            docs.append(("low_quality", text(5, 15)))
        else:
            words = text(30, 60)
            for j in range(0, len(words), 3):
                words[j] = rng.choice(["the", "a"])
            docs.append(("low_quality", words))
    # exact duplicates copy a clean original drawn from their own pool
    originals = [("dup_original", text(30, 200)) for _ in range(n_dup)]
    docs += originals

    rng.shuffle(docs)
    rows = [(doc_id, cls, words)
            for doc_id, (cls, words) in enumerate(docs, start=1)]
    dups = [words for _, words in originals]
    rng.shuffle(dups)
    rows += [(len(docs) + 1 + i, "exact_duplicate", words)
             for i, words in enumerate(dups)]
    ids = {"unique": [], "exact_duplicate": [], "contaminated": []}

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "docs.jsonl"), "w") as f:
        for doc_id, cls, words in rows:
            if cls in ids:
                ids[cls].append(doc_id)
            f.write(json.dumps({"doc_id": doc_id, "text": " ".join(words),
                                "source": rng.choice(SOURCES),
                                "lang": rng.choice(LANGS)}) + "\n")
    with open(os.path.join(out_dir, "eval.jsonl"), "w") as f:
        for i, words in enumerate(eval_texts):
            f.write(json.dumps({"doc_id": 10_000_000 + i,
                                "text": " ".join(words), "source": "eval",
                                "lang": "en"}) + "\n")
    manifest = {"seed": seed, "n_docs": len(rows), "n_eval": EVAL_DOCS,
                "pack_budget": 512,
                "classes": {c: sum(1 for r in rows if r[1] == c)
                            for c in sorted({r[1] for r in rows})},
                "unique_ids": ids["unique"],
                "exact_duplicate_ids": ids["exact_duplicate"],
                "contaminated_ids": ids["contaminated"]}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


if __name__ == "__main__":
    m = generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
    print(json.dumps({"n_docs": m["n_docs"], "classes": m["classes"]}))
