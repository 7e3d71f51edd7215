#!/usr/bin/env python3
"""Measure the engine's ExactSubstr approximation against TRUE Lee-et-al
byte-level duplicate-range semantics (dedup/exact_substrings.py delegates
to a suffix-array tool; this script IS that tool for a planted corpus).

The engine (ExactSubstrDedup.scala) removes 50-word rolling-hash spans that
occurred earlier in the corpus. The truth here: every byte range >= T bytes
(T=100, the Lee-et-al style threshold) that occurs at least twice anywhere
in the corpus is a duplicate; in "later-copies" attribution the FIRST
occurrence (corpus order) is the survivor and only later copies count as
removable, mirroring the engine's first-occurrence-wins rule.

Planted cases (each labeled, so recall is reported per case):
  long_aligned    : 70-120-word passages copied word-aligned into 2-3 docs
                    -> the approximation should find and remove them
  exact50_aligned : exactly-50-word copies -> boundary case, should be found
  short_dup       : 15-45-word copies (>=100 bytes) -> BELOW the 50-word
                    span, the approximation must miss them (known divergence)
  unaligned       : 49-word aligned run whose 50th "word" shares only a byte
                    suffix (differing prefix glued to the first token) ->
                    byte-level truth finds >=100-byte ranges, word-aligned
                    spans cannot (known divergence)
  clean           : unique docs -> any removal is a false positive

Corpus is pure lowercase space-separated ASCII words: Tokenizer.words ==
text.split(' '), so word indices map to byte offsets unambiguously.

Usage:
  python3 tools/exact_substr_divergence.py gen   /tmp/es_corpus.jsonl
  sbt -batch "runMain graft.Measure exact-substr /tmp/es_corpus.jsonl /tmp/es_out"
  python3 tools/exact_substr_divergence.py score /tmp/es_corpus.jsonl /tmp/es_out
"""
import glob
import json
import random
import sys

T_BYTES = 100      # truth duplicate threshold (bytes)
LCP_CAP = 300      # all planted repeats are < 280 bytes, so capped direct
                   # LCPs are exact (documented)

VOCAB = [w % (a, b) for w in ("%s%s",) for a in
         ("riv", "mar", "gar", "vil", "bri", "har", "for", "lib", "sta",
          "win", "sum", "eve", "roa", "mus", "pai", "cas", "isl", "val",
          "mea", "oce")
         for b in ("eron", "ketal", "denor", "lager", "dgeun", "boret",
                   "estin", "raryo", "tionu", "dowel")]


def words(rng, n):
    return [rng.choice(VOCAB) for _ in range(n)]


def gen(out_path):
    rng = random.Random(0xE5D1)
    docs = []      # (doc_id, word list)
    cases = {}     # doc_id -> case label

    def add(case, toks):
        i = len(docs)
        docs.append(toks)
        cases[i] = case
        return i

    # clean docs interleaved throughout
    for _ in range(30):
        add("clean", words(rng, rng.randint(80, 160)))

    # long_aligned: passage copied into 2-3 docs at random positions
    for _ in range(12):
        passage = words(rng, rng.randint(70, 120))
        for _copy in range(rng.randint(2, 3)):
            pre = words(rng, rng.randint(10, 40))
            post = words(rng, rng.randint(10, 40))
            add("long_aligned", pre + passage + post)

    # exact50_aligned boundary case
    for _ in range(8):
        passage = words(rng, 50)
        for _copy in range(2):
            add("exact50_aligned",
                words(rng, rng.randint(15, 30)) + passage + words(rng, rng.randint(15, 30)))

    # short_dup: 15-45 words (~105-315 bytes, always >= T_BYTES)
    for _ in range(10):
        passage = words(rng, rng.randint(15, 45))
        while sum(len(w) + 1 for w in passage) < T_BYTES + 10:
            passage = passage + words(rng, 5)
        for _copy in range(2):
            add("short_dup",
                words(rng, rng.randint(40, 80)) + passage + words(rng, rng.randint(40, 80)))

    # unaligned: 49 shared words + a 50th token whose SUFFIX is shared but
    # whose prefix differs per copy -> >=100-byte byte-level duplicate that
    # no 50-word-aligned span can see
    for _ in range(8):
        shared = words(rng, 49)
        stem = rng.choice(VOCAB)
        for k in range(2):
            glued = ("qq" if k == 0 else "zz") + stem  # differing first word
            add("unaligned",
                words(rng, rng.randint(20, 50)) + [glued] + shared + words(rng, rng.randint(20, 50)))

    with open(out_path, "w") as f:
        for i, toks in enumerate(docs):
            f.write(json.dumps({"doc_id": i, "text": " ".join(toks),
                                "case": cases[i]}) + "\n")
    print("wrote %s: %d docs, %d words total" %
          (out_path, len(docs), sum(len(t) for t in docs)))


# --------------------------------------------------------------------- truth

def truth_ranges(texts):
    """Per-doc sorted byte-interval list of TRUE duplicate bytes (>= T_BYTES
    repeats, later-copies attribution), via a suffix array over the
    separator-joined corpus. Independent of the engine: byte-level, direct
    capped LCPs."""
    sep_parts = []
    offsets = []   # (start, end, doc_id) in concat space
    pos = 0
    for i, t in enumerate(texts):
        b = t.encode()
        offsets.append((pos, pos + len(b), i))
        sep_parts.append(b)
        sep = ("\x00#%d\x01" % i).encode()   # unique, unrepeatable
        sep_parts.append(sep)
        pos += len(b) + len(sep)
    buf = b"".join(sep_parts)
    n = len(buf)

    sa = sorted(range(n), key=lambda i: buf[i:i + LCP_CAP])

    def lcp(a, b):
        m = 0
        while m < LCP_CAP and a + m < n and b + m < n and buf[a + m] == buf[b + m]:
            m += 1
        return m

    # later-copies attribution: for each adjacent pair with lcp >= T, the
    # occurrence later in CORPUS (concat) order is the removable one
    marked = []   # (concat_start, concat_end)
    for k in range(n - 1):
        a, b = sa[k], sa[k + 1]
        m = lcp(a, b)
        if m >= T_BYTES:
            later = max(a, b)
            marked.append((later, later + m))

    # fold into per-doc intervals
    per_doc = [[] for _ in texts]
    marked.sort()
    for s, e in marked:
        for ds, de, i in offsets:
            if s < de and e > ds:
                per_doc[i].append((max(s, ds) - ds, min(e, de) - ds))
    return [merge(iv) for iv in per_doc]


def merge(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def interval_len(iv):
    return sum(e - s for s, e in iv)


def intersect(a, b):
    out = []
    i = j = 0
    while i < len(a) and j < len(b):
        s = max(a[i][0], b[j][0])
        e = min(a[i][1], b[j][1])
        if s < e:
            out.append((s, e))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def score(corpus_path, out_dir):
    docs = [json.loads(l) for l in open(corpus_path)]
    texts = [d["text"] for d in docs]
    cases = [d["case"] for d in docs]

    results = {}
    for fn in glob.glob(out_dir + "/part-*") + glob.glob(out_dir + "/*.json"):
        for line in open(fn):
            line = line.strip()
            if line:
                r = json.loads(line)
                results[int(r["doc_id"])] = r
    assert len(results) == len(docs), (len(results), len(docs))

    truth = truth_ranges(texts)

    # engine removal -> byte intervals (word i spans [off, off+len) bytes)
    def removed_intervals(i):
        toks = texts[i].split(" ")
        offs = []
        p = 0
        for w in toks:
            offs.append((p, p + len(w)))
            p += len(w) + 1
        return merge([offs[k] for k in results[i]["removed_word_positions"]])

    # word-byte universe: spaces excluded from both sides for a clean compare
    def word_only(i, iv):
        toks = texts[i].split(" ")
        offs = []
        p = 0
        for w in toks:
            offs.append((p, p + len(w)))
            p += len(w) + 1
        return intersect(iv, offs)

    agg = {}
    for i in range(len(docs)):
        t_iv = word_only(i, truth[i])
        r_iv = removed_intervals(i)     # already word-only
        both = intersect(t_iv, r_iv)
        a = agg.setdefault(cases[i], [0, 0, 0])
        a[0] += interval_len(t_iv)
        a[1] += interval_len(r_iv)
        a[2] += interval_len(both)

    print("%-16s %12s %12s %12s %8s %8s" %
          ("case", "truth_bytes", "removed", "overlap", "recall", "prec"))
    tot = [0, 0, 0]
    for case in sorted(agg):
        t, r, o = agg[case]
        tot[0] += t; tot[1] += r; tot[2] += o
        rec = o / t if t else float("nan")
        prec = o / r if r else float("nan")
        print("%-16s %12d %12d %12d %8.3f %8.3f" % (case, t, r, o, rec, prec))
    t, r, o = tot
    print("%-16s %12d %12d %12d %8.3f %8.3f" %
          ("TOTAL", t, r, o, o / t if t else 0, o / r if r else 0))


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "gen":
        gen(sys.argv[2])
    elif mode == "score":
        score(sys.argv[2], sys.argv[3])
    else:
        raise SystemExit("mode must be gen|score")
