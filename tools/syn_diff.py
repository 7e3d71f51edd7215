#!/usr/bin/env python3
"""Syntactic-complexity differential harness (driver-side tooling).

Replays the REFERENCE's own split_into_sentences (cdf_gc/dependency_parser.py,
exec'd with the `ltp` import stubbed — the LTP model itself is GPU+download
and is behind the engine's DependencyParser seam) and the
SyntacticComplexityCalculator arithmetic (calc_counter_entropy +
calc_tree_height from cdf_gc/gc_calculator.py, plus the run() loop body
mirrored verbatim below) over the corpus written by `graft.Measure diff syn`, and
reports agreement with the engine's outputs.

Usage:
  sbt -batch "runMain graft.Measure diff syn /tmp/graft_syn_diff"
  python3 tools/syn_diff.py /tmp/graft_syn_diff
"""
import os
import sys
from collections import Counter

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import diff_harness
from diff_harness import make_module, exec_ref

CHINESE_EOS = "。！!？?；;|\n\t…"  # dependency_parser.py:50


def build():
    make_module("ltp", LTP=object)
    dp = exec_ref("pipeline/cdf_gc/dependency_parser.py", "ref_dp")
    # gc_calculator's module-level imports (the classes aren't used here)
    make_module("datatrove")
    make_module("datatrove.data", DocumentsPipeline=object)
    make_module("datatrove.pipeline")
    make_module("datatrove.pipeline.base", PipelineStep=object)
    make_module("datatrove.pipeline.cdf_gc",
                PartOfSpeechPredictor=object, DependencyParser=object)
    make_module("datatrove.utils")
    make_module("datatrove.utils.logging", logger=None)
    make_module("datatrove.io", DataFolderLike=object,
                get_datafolder=lambda *a, **k: None)
    gc = exec_ref("pipeline/cdf_gc/gc_calculator.py", "ref_gc")
    return dp, gc


def ref_metrics(gc, sentences):
    """gc_calculator.py:152-184 run() loop, verbatim arithmetic."""
    dep_label_counter = Counter(
        label for s in sentences for label in s["dep_labels"])
    dep_ent = gc.calc_counter_entropy(dep_label_counter)
    total_tree_cnt = len(sentences)
    total_tree_height = 0
    total_dependency_distance = 0
    total_edge_cnt = 0
    for sentence in sentences:
        parents = sentence["parents"]
        total_edge_cnt += len(parents) - 1
        total_tree_height += gc.calc_tree_height(parents)
        for i, parent in enumerate(parents):
            if parent == -1:
                continue
            total_dependency_distance += abs(i - parent)
    avg_dep_height = total_tree_height / total_tree_cnt
    avg_dep_dis = total_dependency_distance / total_edge_cnt
    return dep_ent, avg_dep_height, avg_dep_dis


def q(x):
    return round(x * 1e6)


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_syn_diff"
    dp, gc = build()

    split_rows = pq.read_table(f"{out_dir}/split").to_pylist()
    split_agree = 0
    split_diff_example = None
    for r in split_rows:
        expected = dp.split_into_sentences(
            r["text"], max_length=128, punctuations=CHINESE_EOS)
        if expected == list(r["sents"]):
            split_agree += 1
        elif split_diff_example is None:
            split_diff_example = (r["id"], expected, list(r["sents"]))

    calc_rows = pq.read_table(f"{out_dir}/calc").to_pylist()
    calc_agree = 0
    calc_diff_example = None
    for r in calc_rows:
        sents = [{"dep_labels": list(ls), "parents": list(ps)}
                 for ls, ps in zip(r["labels"], r["parents"])]
        e, h, d = ref_metrics(gc, sents)
        if (q(e), q(h), q(d)) == (r["q_ent"], r["q_height"], r["q_dis"]):
            calc_agree += 1
        elif calc_diff_example is None:
            calc_diff_example = (r["id"], (q(e), q(h), q(d)),
                                 (r["q_ent"], r["q_height"], r["q_dis"]))

    print(f"splitter agreement: {split_agree}/{len(split_rows)} "
          f"= {split_agree / len(split_rows):.6f}")
    print(f"calculator agreement (x1e6-quantized): {calc_agree}/{len(calc_rows)} "
          f"= {calc_agree / len(calc_rows):.6f}")
    if split_diff_example:
        print("first splitter diff:", split_diff_example)
    if calc_diff_example:
        print("first calculator diff:", calc_diff_example)
    ok = split_agree == len(split_rows) and calc_agree == len(calc_rows)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
