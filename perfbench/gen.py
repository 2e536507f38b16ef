"""Seeded input generators for the vspace-zipf6 and datapipe-dense workloads.

Both draw document text from one Zipf(s) word model over a fixed lexicon.
Surface noise (capitalized words, accents written decomposed, punctuation)
is added on top of the canonical lowercase NFC tokens, so the program's
normalizer has real work to do, while the generator still knows the exact
normalized form of every document: that canonical text is the ground truth
the output checks are computed from.

Everything is a pure function of the seed and the fixed lexicon. Generation runs single-threaded
in this process; the program only ever sees the files written here.
"""
import json
import os
import time
import unicodedata

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The lexicon is the same for every seed; the seed draws the documents. A
# seeded lexicon made LSH near-dup candidates swing 3-5x between seeds (one
# seed of five at 1,200 datapipe groups read 7,304 candidates, the others
# 1,405-2,487): which frequent shingles hash low depends on the letters of
# the frequent words, and every document holds those shingles.
LEXICON_SEED = 20240601

# The vspace corpus record delimiter: 15 repetitions of the magic stopword
# (graft.sources.CorpusSources.RecordDelimiter).
RECORD_DELIMITER = " ".join(["nferstopword"] * 15)

LETTERS = "abcdefghijklmnopqrstuvwxyz"
ACCENTED = "àáâäçèéêëìíîïñòóôöùúûüý"


class ZipfText:
    """A lexicon drawn from `rng` plus a Zipf(s) sampler over it.

    Each word has four surface forms: canonical, capitalized, decomposed
    (NFD) and capitalized+decomposed. All four normalize (NFC, lowercase)
    to the canonical form.
    """

    def __init__(self, rng, n_words, s=1.05):
        # Word length and accent follow the frequency rank alone (frequent
        # words are short), so the text bytes of a corpus barely move with
        # the seed; only the letters are drawn.
        words = set()
        out = []
        for r in range(n_words):
            ln = min(12, 2 + int(np.log2(r + 2) * 0.7)) + (r % 3 == 0)
            while True:
                chars = list(rng.choice(list(LETTERS), size=ln))
                if r % 10 < 3:  # 30% of words carry one accented letter
                    chars[r % ln] = ACCENTED[rng.integers(0, len(ACCENTED))]
                w = "".join(chars)
                if w not in words and w != "nferstopword":
                    break
            words.add(w)
            out.append(w)
        self.words = np.array(out, dtype=object)
        ranks = np.arange(1, len(out) + 1, dtype=np.float64)
        p = ranks ** -s
        self.cdf = np.cumsum(p / p.sum())
        forms = np.empty((len(out), 4), dtype=object)
        for i, w in enumerate(out):
            cap = w[0].upper() + w[1:]
            forms[i, 0] = w
            forms[i, 1] = cap
            forms[i, 2] = unicodedata.normalize("NFD", w)
            forms[i, 3] = unicodedata.normalize("NFD", cap)
        self.forms = forms

    def sample(self, rng, n):
        """`n` word ids drawn Zipf-distributed."""
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.words) - 1)

    def surface(self, rng, ids, cap_share=0.03, nfd_share=0.1, punct_share=0.05):
        """Surface strings for word ids: ~3% capitalized, ~10% of words
        written decomposed (so ~3% of tokens carry a decomposed accent), ~5%
        followed by punctuation the normalizer must split off."""
        form = (rng.random(len(ids)) < cap_share).astype(np.int64)
        form += 2 * (rng.random(len(ids)) < nfd_share)
        toks = self.forms[ids, form]
        punct = rng.random(len(ids)) < punct_share
        if punct.any():
            marks = np.array([",", ".", ";", "!"], dtype=object)
            toks = toks.copy()
            toks[punct] = toks[punct] + marks[rng.integers(0, 4, size=int(punct.sum()))]
        return toks


def lognormal_lengths(rng, n, total, sigma=0.8, lo=8):
    """`n` document lengths, log-normal in shape, summing to exactly `total`
    tokens, so every seed gives the job the same amount of text."""
    x = rng.lognormal(0.0, sigma, size=n)
    lens = np.maximum(lo, np.floor(x / x.sum() * total)).astype(np.int64)
    lens[np.argmax(lens)] += total - lens.sum()
    return lens


def _write_lines(path, lines):
    with open(path, "w", encoding="utf-8") as f:
        for ln in lines:
            f.write(ln)
            f.write("\n")


def gen_vspace(out, seed, docs=300, mean_tokens=380, n_words=20000,
               files=4, phrases=3000, collections=2000, sources=10,
               subsources=50, max_n=6):
    """The paper's job inputs: a delimiter-separated corpus, its index, the
    source->subsource map, and a phrase/collection vocabulary drawn from the
    corpus. Writes the canonical (normalized) text and the doc->source map
    as ground truth for the oracle."""
    t0 = time.perf_counter()
    rng = np.random.default_rng([seed, 6])
    z = ZipfText(np.random.default_rng(LEXICON_SEED), n_words)
    lens = lognormal_lengths(rng, docs, docs * mean_tokens)
    ids = z.sample(rng, int(lens.sum()))
    surf = z.surface(rng, ids)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    canon_docs, surf_docs = [], []
    for d in range(docs):
        a, b = bounds[d], bounds[d + 1]
        c = list(z.words[ids[a:b]])
        s = list(surf[a:b])
        if d % 50 == 0:  # one doc-count sentinel per 50 docs
            pos = int(rng.integers(0, len(c) + 1))
            c.insert(pos, f"nferdoccount_{d}")
            s.insert(pos, f"nferdoccount_{d}")
        canon_docs.append(c)
        surf_docs.append(" ".join(s))

    corpus_dir = os.path.join(out, "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    # contiguous doc ranges per file; ids follow lexicographic file order
    per_file = np.array_split(np.arange(docs), files)
    for k, rows in enumerate(per_file):
        with open(os.path.join(corpus_dir, f"part-{k:02d}.txt"), "w", encoding="utf-8") as f:
            f.write(RECORD_DELIMITER.join(surf_docs[i] for i in rows))

    # subsources: skewed doc counts; sub_49 claimed by no source, sub_00
    # claimed by two
    sub_w = 1.0 / np.arange(1, subsources + 1) ** 0.7
    doc_sub = rng.choice(subsources, size=docs, p=sub_w / sub_w.sum())
    claims = {f"src_{k:02d}": [] for k in range(sources)}
    for s in range(subsources - 1):
        claims[f"src_{s % sources:02d}"].append(f"sub_{s:02d}")
    claims["src_01"].append("sub_00")
    _write_lines(os.path.join(out, "src2sub.txt"),
                 [f"{src} {','.join(subs)}" for src, subs in claims.items()])
    sub_sources = {}
    for src, subs in claims.items():
        for s in subs:
            sub_sources.setdefault(s, []).append(src)
    years = rng.integers(1990, 2025, size=docs)
    _write_lines(os.path.join(out, "index.tsv"), [
        f"{d}\thttp://example.org/{d}\tsub_{doc_sub[d]:02d}\t{years[d]}\tm1\t"
        f"title {d}\tauthor{d % 97}\tm2\tm3\tm4" for d in range(docs)])

    # vocabulary: bigram phrases and 3..6-gram collections sampled from the
    # canonical corpus, plus 20% absent from it
    def sample_grams(count, n_lo, n_hi):
        grams = set()
        tries = 0
        while len(grams) < count and tries < count * 20:
            tries += 1
            n = int(rng.integers(n_lo, n_hi + 1))
            if rng.random() < 0.2:
                g = list(z.words[z.sample(rng, n)])
            else:
                d = int(rng.integers(0, docs))
                if len(canon_docs[d]) < n:
                    continue
                p = int(rng.integers(0, len(canon_docs[d]) - n + 1))
                g = canon_docs[d][p:p + n]
            if any(w.startswith("nferdoccount_") for w in g):
                continue
            grams.add(" ".join(g))
        return sorted(grams)

    phrase_list = sample_grams(phrases, 2, 2)
    collection_list = sample_grams(collections, 3, max_n)
    _write_lines(os.path.join(out, "phrases.txt"),
                 [p.replace(" ", "_") + f" {i % 1000}" for i, p in enumerate(phrase_list)])
    _write_lines(os.path.join(out, "collections.txt"),
                 [c.replace(" ", "_") for c in collection_list])

    truth = os.path.join(out, "truth")
    os.makedirs(truth, exist_ok=True)
    pq.write_table(pa.table({
        "document_index": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array([" ".join(c) for c in canon_docs], pa.string()),
    }), os.path.join(truth, "docs.parquet"))
    ds_doc, ds_src = [], []
    for d in range(docs):
        for src in sub_sources.get(f"sub_{doc_sub[d]:02d}", []):
            ds_doc.append(d)
            ds_src.append(src)
    pq.write_table(pa.table({
        "document_index": pa.array(ds_doc, pa.int64()),
        "source": pa.array(ds_src, pa.string()),
    }), os.path.join(truth, "doc_sources.parquet"))
    _write_lines(os.path.join(truth, "vocabulary.txt"),
                 sorted(set(phrase_list) | set(collection_list)))

    text_bytes = sum(len(s.encode("utf-8")) for s in surf_docs)
    return {"docs": docs, "text_bytes": text_bytes, "max_ngrams": max_n,
            "vocabulary": len(set(phrase_list) | set(collection_list)),
            "gen_s": time.perf_counter() - t0}


def _shingle_jaccard(a, b):
    """Jaccard of the distinct 3-word shingle sets of two token-id arrays,
    as the pipeline's verification computes it over the normalized text."""
    sa = set(zip(a[:-2], a[1:-1], a[2:]))
    sb = set(zip(b[:-2], b[1:-1], b[2:]))
    return len(sa & sb) / len(sa | sb)


def _quality_ok(tokens):
    """The pipeline's quality floor, evaluated exactly as its plan does it."""
    wc = len(tokens)
    diversity = len(set(tokens)) / max(wc, 1)
    return min(wc / 100.0, 1.0) * 0.5 + diversity * 0.5 >= 0.3 and wc >= 5


def gen_datapipe(out, seed, groups=700, mean_tokens=220, n_words=20000,
                 bench_docs=24, files=4, plant_share=0.04, sf_docs=500):
    """The LLM data pipeline's inputs: a corpus in 5-row groups (base, an
    exact duplicate that differs only in surface form, a near-duplicate
    with an edit rate spread across the 0.7 verification threshold, two
    unique rows), a held-out benchmark set, and planted contamination."""
    t0 = time.perf_counter()
    rng = np.random.default_rng([seed, 5])
    z = ZipfText(np.random.default_rng(LEXICON_SEED), n_words)
    bench_lens = lognormal_lengths(rng, bench_docs, bench_docs * 60, sigma=0.4, lo=20)
    bench_ids = [z.sample(rng, int(n)) for n in bench_lens]
    bench_canon = [list(z.words[ids]) for ids in bench_ids]
    bench_surf = [" ".join(z.surface(rng, ids)) for ids in bench_ids]

    doc_ids, srcs, texts, canon_texts, planted, near_jaccard = [], [], [], [], [], []
    src_names = np.array(["web", "books", "code", "news", "forum"], dtype=object)
    # base and the two unique rows of every group
    lens = lognormal_lengths(rng, groups * 3, groups * 3 * mean_tokens).reshape(groups, 3)
    # exactly plant_share of the groups carry a benchmark doc in row 3,
    # spread evenly over the benchmark docs
    plant_groups = rng.choice(groups, size=int(round(plant_share * groups)), replace=False)
    plant_of = {int(g): i % bench_docs for i, g in enumerate(np.sort(plant_groups))}
    for g in range(groups):
        base_ids = z.sample(rng, int(lens[g, 0]))
        src = src_names[g % len(src_names)]
        rows = []
        # v0 base, v1 exact duplicate in another surface form
        rows.append((base_ids, None))
        rows.append((base_ids, None))
        # v2 near duplicate: substitute a share of tokens; the share spreads
        # across the 0.7 shingle-Jaccard threshold
        rate = float(rng.uniform(0.02, 0.22))
        near = base_ids.copy()
        k = max(1, int(round(rate * len(near))))
        pos = rng.choice(len(near), size=min(k, len(near)), replace=False)
        repl = z.sample(rng, len(pos))
        clash = repl == near[pos]
        repl[clash] = (repl[clash] + 1) % len(z.words)
        near[pos] = repl
        rows.append((near, None))
        near_jaccard.append(_shingle_jaccard(base_ids, near))
        # v3, v4 unique rows; some v3 rows carry a benchmark doc (planted)
        for v in (3, 4):
            u = z.sample(rng, int(lens[g, v - 2]))
            rows.append((u, plant_of.get(g) if v == 3 else None))
        for v, (wids, plant) in enumerate(rows):
            doc_id = g * 5 + v
            canon = list(z.words[wids])
            surf = " ".join(z.surface(rng, wids))
            if plant is not None:
                canon = canon + bench_canon[plant]
                surf = surf + " " + bench_surf[plant]
                planted.append(doc_id)
            doc_ids.append(doc_id)
            srcs.append(src)
            texts.append(surf)
            canon_texts.append(" ".join(canon))

    order = rng.permutation(len(doc_ids))
    docs_dir = os.path.join(out, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    for k, rows in enumerate(np.array_split(order, files)):
        rows = np.sort(rows)
        pq.write_table(pa.table({
            "doc_id": pa.array([doc_ids[i] for i in rows], pa.int64()),
            "source": pa.array([srcs[i] for i in rows], pa.string()),
            "text": pa.array([texts[i] for i in rows], pa.string()),
        }), os.path.join(docs_dir, f"part-{k:02d}.parquet"))
    os.makedirs(os.path.join(out, "bench"), exist_ok=True)
    pq.write_table(pa.table({"text": pa.array(bench_surf, pa.string())}),
                   os.path.join(out, "bench", "part-00.parquet"))
    os.makedirs(os.path.join(out, "planted"), exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(planted, pa.int64())}),
                   os.path.join(out, "planted", "part-00.parquet"))

    # a documents table in the catalog's schema (clean lowercase text), for
    # the document queries of the catalog measured in the traced run
    n_sf = min(sf_docs, len(doc_ids))
    langs = rng.choice(np.array(["en", "zh", "es", "fr", "de"], dtype=object),
                       size=n_sf, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    sf_text = canon_texts[:n_sf]
    os.makedirs(os.path.join(out, "sf"), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(doc_ids[:n_sf], pa.int64()),
        "text": pa.array(sf_text, pa.string()),
        "lang": pa.array(list(langs), pa.string()),
        "source": pa.array(srcs[:n_sf], pa.string()),
        "n_chars": pa.array([len(t) for t in sf_text], pa.int64()),
    }), os.path.join(out, "sf", "documents.parquet"))
    sf_tokens = [(w, srcs[i]) for i, t in enumerate(sf_text) for w in t.split(" ")]

    qualified = [t for t in canon_texts if _quality_ok(t.split(" "))]
    # every base/near-duplicate pair at or above the 0.7 threshold verifies
    # (its LSH candidate odds are 1 - (1 - 0.7^2)^32 > 1 - 1e-9) and its
    # 2-doc cluster loses one row; no other pair comes near the threshold
    near_pairs = sum(1 for j in near_jaccard if j >= 0.7)
    return {"docs": len(doc_ids), "groups": groups,
            "expected_near_pairs": near_pairs,
            "expected_after_near_dedup": len(set(qualified)) - near_pairs,
            "expected_q21_rows": len({w for w, _ in sf_tokens}),
            "expected_q22_rows": len(set(sf_tokens)),
            "text_bytes": sum(len(t.encode("utf-8")) for t in texts),
            "expected_after_quality": len(qualified),
            "expected_after_exact_dedup": len(set(qualified)),
            "planted": len(planted),
            "gen_s": time.perf_counter() - t0}


GENERATORS = {"vspace-zipf6": gen_vspace, "datapipe-dense": gen_datapipe}


def generate(workload, seed, out):
    """Generate once per (workload, seed): reuse `out` when its metadata
    marker exists, else write the inputs there and return the metadata."""
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    os.makedirs(out, exist_ok=True)
    meta = GENERATORS[workload](out, seed)
    meta.update({"workload": workload, "seed": seed})
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta
