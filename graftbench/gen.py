"""Seeded input generator for the graft benchmark.

Everything the benchmark feeds the engine comes from here and depends only
on the seed: a synthetic markdown/text corpus, the serve query mix, and the
reingest rewrites. The word bands are explicit so each query class reaches
the serve route it is meant to exercise:

- stopwords sit in nearly every fragment, code included (df close to n),
  so a query that carries them takes the lexical MaxScore route;
- topic words each sit in about 2.5% of fragments (under the 5% stopword
  threshold), so a stop query's ten topic words certify 30 candidates;
- tail words are rare (a handful of fragments each);
- needle triples are planted three times over into a short paragraph of
  their own, so a rare query for one reaches the fusion floor and is
  served FUSED;
- out-of-vocabulary words are built from syllables the corpus never uses.

No generated word contains a self-query indicator ("code", "table",
"image", "js", ...), so only the scoped class carries view/lang hints.
"""
import json
import os
import random

import catalog

STOPWORDS = ["the", "of", "and", "to", "in", "is"]
# substrings the rule-based self-query reacts to; no corpus word holds one
INDICATORS = ["code", "function", "def", "method", "snippet",
              "implementation", "table", "image", "figure", "diagram",
              "python", "javascript", "js"]
SYLLABLES = ["ka", "lo", "mi", "ren", "ta", "vo", "su", "ne", "pi", "dar",
             "el", "mon", "ri", "qua", "zen", "bo", "fa", "gu", "hol", "ix"]
OOV_SYLLABLES = ["xyq", "vvu", "wzo", "qqe", "jyx"]
CLASSES = ["stop", "rare", "scoped", "oov", "identity"]
NEEDLES = 64
NEEDLE_EVERY = 4  # markdown documents 0, 12, 16, ... carry needle triple i // 4
LANGS = ["python", "javascript"]


def _word(rng, syllables, lo, hi):
    return "".join(rng.choice(syllables) for _ in range(rng.randint(lo, hi)))


def _clean(w):
    return w not in STOPWORDS and not any(i in w for i in INDICATORS)


def _words(rng, n, syllables, lo, hi, taken):
    out = []
    while len(out) < n:
        w = _word(rng, syllables, lo, hi)
        if _clean(w) and w not in taken:
            taken.add(w)
            out.append(w)
    return out


def vocabulary(rng):
    taken = set()
    return {
        "topic": _words(rng, 30, SYLLABLES, 3, 4, taken),
        "tail": _words(rng, 1500, SYLLABLES, 3, 5, taken),
        "needle": _words(rng, 3 * NEEDLES, SYLLABLES, 4, 5, taken),
        "oov": _words(rng, 60, OOV_SYLLABLES, 3, 4, taken),
    }


def _stops(rng):
    # every fragment carries most stopwords, so their df stays near n
    return rng.sample(STOPWORDS, 5)


def _paragraph(rng, vocab):
    words = _stops(rng)
    for _ in range(rng.randint(10, 22)):
        r = rng.random()
        if r < 0.35:
            words.append(rng.choice(STOPWORDS))
        elif r < 0.39:
            words.append(rng.choice(vocab["topic"]))
        else:
            words.append(rng.choice(vocab["tail"]))
    return " ".join(words)


def _needle(vocab, k):
    return vocab["needle"][3 * k:3 * k + 3]


def _code_block(rng, vocab, lang):
    names = [rng.choice(vocab["tail"]) for _ in range(6)]
    comment = " ".join(_stops(rng) + [names[5]])
    if lang == "python":
        lines = ["# " + comment,
                 "def %s_%s(%s, %s):" % (names[0], names[1], names[2], names[3]),
                 "    return %s + %s * %s" % (names[2], names[3], names[4]),
                 "", "%s = %s_%s(1, 2)" % (names[5], names[0], names[1])]
    else:
        lines = ["// " + comment,
                 "function %s%s(%s, %s) {" % (names[0], names[1], names[2], names[3]),
                 "  return %s + %s * %s;" % (names[2], names[3], names[4]),
                 "}", "const %s = %s%s(1, 2);" % (names[5], names[0], names[1])]
    return "```%s\n%s\n```" % (lang, "\n".join(lines))


def is_markdown(i):
    return i % 5 < 3


def has_needle(i):
    return is_markdown(i) and i % NEEDLE_EVERY == 0


def document(rng, vocab, i, version=0):
    """One document: markdown (heading, paragraphs, fenced code) or text.

    A markdown document opens with its heading and a lead paragraph of fixed
    shape (5 stopwords, 11 long words no other paragraph uses) right before a
    code block, so its first text fragment, the one identity and post-write
    queries name, takes the same serve route in every document and seed.
    """
    paras = [_paragraph(rng, vocab) for _ in range(rng.randint(3, 6))]
    if is_markdown(i):
        name = "doc_%05d.md" % i
        lead = _stops(rng) + [_word(rng, SYLLABLES, 6, 7) for _ in range(11)]
        parts = ["# %s %s" % (" ".join(_stops(rng)), rng.choice(vocab["tail"])),
                 " ".join(lead), _code_block(rng, vocab, rng.choice(LANGS))]
        if has_needle(i):
            # its own pre-text fragment: short, so the needle query's score
            # nears saturation
            needle = _stops(rng) + _needle(vocab, i // NEEDLE_EVERY) * 3
            parts += [" ".join(needle), _code_block(rng, vocab, rng.choice(LANGS))]
        for p in paras:
            parts.append(p)
            if rng.random() < 0.45:
                parts.append(_code_block(rng, vocab, rng.choice(LANGS)))
        body = "\n\n".join(parts) + "\n"
    else:
        name = "doc_%05d.txt" % i
        body = "\n\n".join(paras) + "\n"
    if version:
        # a rewrite keeps the path (so the document id) and changes content
        body = "%s %s revision %d\n\n%s" % (" ".join(_stops(rng)),
                                            rng.choice(vocab["tail"]), version, body)
    return name, body


def queries(rng, vocab, n_docs, count):
    """The serve query mix: `count` queries, classes in round-robin order."""
    out = []
    for j in range(count):
        cls = CLASSES[j % len(CLASSES)]
        if cls == "stop":
            text = " ".join(rng.sample(STOPWORDS, 4) + rng.sample(vocab["topic"], 10))
            out.append({"class": cls, "text": text, "view": None})
        elif cls == "rare":
            doc = rng.choice([i for i in range(n_docs) if has_needle(i)])
            out.append({"class": cls, "text": " ".join(_needle(vocab, doc // NEEDLE_EVERY)),
                        "view": None})
        elif cls == "scoped":
            text = "%s function %s %s" % (rng.choice(LANGS),
                                          rng.choice(vocab["topic"]),
                                          rng.choice(vocab["tail"]))
            out.append({"class": cls, "text": text, "view": "code"})
        elif cls == "oov":
            out.append({"class": cls, "text": " ".join(rng.sample(vocab["oov"], 3)),
                        "view": None})
        else:
            # resolved by the driver to this document's first text fragment
            doc = rng.choice([i for i in range(n_docs) if is_markdown(i)])
            out.append({"class": cls, "doc": doc, "view": None})
    return out


def corpus(seed, n_docs, n_queries):
    """(docs, queries) for one seed; docs is a list of (file name, text)."""
    rng = random.Random(seed)
    vocab = vocabulary(rng)
    docs = [document(rng, vocab, i) for i in range(n_docs)]
    return docs, queries(rng, vocab, n_docs, n_queries)


def rewrites(seed, n_docs, batches, per_batch):
    """Reingest batches: each rewrites `per_batch` distinct markdown documents."""
    rng = random.Random(seed * 7919 + 1)
    vocab = vocabulary(random.Random(seed))
    picks = rng.sample([i for i in range(n_docs) if is_markdown(i)], batches * per_batch)
    return [[document(rng, vocab, i, version=b + 1)
             for i in picks[b * per_batch:(b + 1) * per_batch]]
            for b in range(batches)]


def write(work, seed, workload, n_docs, n_queries, batches, per_batch):
    """Write every input of one run under `work` and return the manifest."""
    docs, qs = corpus(seed, n_docs, n_queries)
    os.makedirs(os.path.join(work, "docs"), exist_ok=True)
    for name, body in docs:
        with open(os.path.join(work, "docs", name), "w") as f:
            f.write(body)
    manifest = {"workload": workload, "seed": seed, "docs": [n for n, _ in docs],
                "queries": qs, "rewrites": [],
                "catalog": [{"module": m, "query": q} for m, q in catalog.PICKS]}
    for b, batch in enumerate(rewrites(seed, n_docs, batches, per_batch)):
        d = os.path.join(work, "rewrites", "b%d" % b)
        os.makedirs(d, exist_ok=True)
        for name, body in batch:
            with open(os.path.join(d, name), "w") as f:
                f.write(body)
        manifest["rewrites"].append([n for n, _ in batch])
    with open(os.path.join(work, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
