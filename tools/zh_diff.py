#!/usr/bin/env python3
"""zh differential harness (driver-side tooling, not part of the library).

Replays the REFERENCE's GopherQualityFilter / GopherRepetitionFilter code
over the zh corpus written by `graft.Measure diff zh`, with an INDEPENDENT Python
port of the jieba DAG/max-prob segmentation over the committed dict
(src/main/resources/graft/zh_dict.tsv) standing in for jieba (absent
offline), and reports keep/drop + reason agreement vs the engine's labels.

Usage:
  sbt -batch "runMain graft.Measure diff zh /tmp/graft_zh_diff"
  python3 tools/zh_diff.py /tmp/graft_zh_diff
"""
import math
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import diff_harness  # shared reference-exec machinery + zh DAG port


class _ZhTok:
    def word_tokenize(self, text):
        return [w for w in (t.strip() for t in diff_harness.tok_words(text)) if w]

    def sent_tokenize(self, text):
        return ["s"] * diff_harness.sentence_count(text)

    def span_tokenize(self, text):
        return [(0, len(text))] * diff_harness.sentence_count(text)


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_zh_diff"

    # patch the tokenizer BEFORE the reference modules are exec'd
    diff_harness.load_word_tokenizer = lambda lang: _ZhTok()
    text_mod, gq, gr, c4, fw, pii = diff_harness.build_modules()

    f_qual = gq.GopherQualityFilter(
        min_doc_words=10,
        min_avg_word_length=1,
        min_stop_words=1,
        stop_words=["的", "了", "是", "在", "和"])
    f_rep = gr.GopherRepetitionFilter()

    rows = pq.read_table(f"{out_dir}/zh").to_pylist()
    q_agree = r_agree = 0
    q_mism, r_mism = [], []
    for row in rows:
        doc = diff_harness.Document(row["text"], id=str(row["doc_id"]))
        rq = f_qual.filter(doc)
        ref_q = "" if rq is True else (rq[1] if isinstance(rq, tuple) else "")
        rr = f_rep.filter(diff_harness.Document(row["text"]))
        ref_r = "" if rr is True else (rr[1] if isinstance(rr, tuple) else "")
        if ref_q == row["reason_quality"]:
            q_agree += 1
        elif len(q_mism) < 5:
            q_mism.append((row["doc_id"], ref_q, row["reason_quality"], row["text"][:40]))
        if ref_r == row["reason_repetition"]:
            r_agree += 1
        elif len(r_mism) < 5:
            r_mism.append((row["doc_id"], ref_r, row["reason_repetition"], row["text"][:40]))

    n = len(rows)
    print(f"docs={n}")
    print(f"zh gopher_quality reason agreement: {q_agree / n:.6f}")
    print(f"zh gopher_repetition reason agreement: {r_agree / n:.6f}")
    for m in q_mism:
        print(f"  QUALITY MISMATCH: {m}")
    for m in r_mism:
        print(f"  REPETITION MISMATCH: {m}")
    # distribution sanity: the corpus must exercise multiple outcomes
    from collections import Counter
    print("quality reasons:", dict(Counter(r["reason_quality"] for r in rows)))
    # out-of-dict share: tokens with no positive dict frequency (the HMM
    # unknown-word path). Round 2/3 stressed this path at 45% planted OOV;
    # with the 36.7k-entry dict the corpus targets the realistic
    # dictionary-dominated regime (OOV < 20%, VERDICT r3 #6)
    total_tok = oov_tok = 0
    for row in rows:
        for t in diff_harness.tok_words(row["text"]):
            if diff_harness.is_cjk(t[0]):
                total_tok += 1
                if diff_harness.ZH_FREQ.get(t, 0) == 0:
                    oov_tok += 1
    oov_share = oov_tok / max(total_tok, 1)
    print(f"oov token share: {oov_share:.3f} ({oov_tok}/{total_tok})")
    ok = q_agree / n >= 0.99 and r_agree / n >= 0.99
    print("RESULT:", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
