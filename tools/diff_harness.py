#!/usr/bin/env python3
"""Differential F1 harness (driver-side tooling, not part of the library).

Executes the REFERENCE's own filter code (/root/reference — read-only) over
the engine's synthetic corpus and compares per-document keep/drop labels and
PII-scrubbed text against the Scala engine's output (written by
graft.Measure's `diff web` layer, DiffDump.dump).

The reference package can't be imported wholesale offline (loguru/fsspec/
nltk/spacy are absent), so this harness stubs exactly those seams:
  - datatrove.data.Document / BaseFilter / BaseFormatter: minimal stand-ins
    (only `filter()` / `format()` logic is under test).
  - utils.word_tokenizers.load_word_tokenizer: replaced by a Python port of
    the engine's deterministic tokenizer (the fork's jieba hack can't run
    offline; tokenizer parity is covered by the engine's own unit fixtures,
    SURVEY.md §7.3 — this harness isolates FILTER-RULE parity).
Everything else — the Gopher/C4/FineWeb/badwords/PII rule code — is the
reference's verbatim source, exec'd from /root/reference.

Usage:
  sbt -batch "runMain graft.Measure diff web /tmp/graft_diff"
  python3 tools/diff_harness.py /tmp/graft_diff
"""
import math
import os
import re
import sys
import types
import numpy as np
import pyarrow.parquet as pq

REF = "/root/reference/src/datatrove"


# ---------- python port of the engine's tokenizer (graft.text.Tokenizer) ----
def py_is_space(c):
    o = ord(c)
    if o in (0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x20, 0x85) or 0x1C <= o <= 0x1F:
        return True
    import unicodedata
    return unicodedata.category(c) in ("Zs", "Zl", "Zp")


# jieba-style DAG/max-prob segmentation over the committed dict — an
# independent port of graft.text.ZhSegmenter (same algorithm, same dict,
# written from the published algorithm rather than from the Scala)
ZH_DICT_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "../src/main/resources/graft/zh_dict.tsv")


def _load_zh_dict():
    words = {}
    with open(ZH_DICT_PATH, encoding="utf-8") as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if len(parts) >= 2:  # word \t freq [\t pos-tag]
                words[parts[0]] = int(parts[1])
    freq = dict(words)
    for w in words:
        for i in range(1, len(w)):
            if w[:i] not in freq:
                freq[w[:i]] = 0
    return freq, math.log(float(sum(words.values()))), words


ZH_FREQ, ZH_LOG_TOTAL, ZH_WORDS = _load_zh_dict()


def zh_qlog(f):
    # mirrors Scala: rint((log(max(f,1)) - logTotal) * 1e6) / 1e6
    return round((math.log(float(f) if f > 0 else 1.0) - ZH_LOG_TOTAL) * 1e6) / 1e6


def zh_cut_no_hmm(run):
    n = len(run)
    if n == 0:
        return []
    if n == 1:
        return [run]
    dag = []
    for i in range(n):
        ends = []
        k = i
        frag = run[i:k + 1]
        while k < n and frag in ZH_FREQ:
            if ZH_FREQ[frag] > 0:
                ends.append(k)
            k += 1
            frag = run[i:k + 1]
        if not ends:
            ends.append(i)
        dag.append(ends)
    route_p = [0.0] * (n + 1)
    route_x = [0] * (n + 1)
    for idx in range(n - 1, -1, -1):
        best_p, best_x = float("-inf"), idx
        for x in dag[idx]:
            p = zh_qlog(ZH_FREQ.get(run[idx:x + 1], 0)) + route_p[x + 1]
            if p > best_p or (p == best_p and x > best_x):
                best_p, best_x = p, x
        route_p[idx] = best_p
        route_x[idx] = best_x
    out = []
    x = 0
    while x < n:
        y = route_x[x] + 1
        out.append(run[x:y])
        x = y
    return out


# --- B/M/E/S HMM for unknown runs: independent port of graft
# ZhSegmenter.Hmm (jieba finalseg's published Viterbi; self-authored model
# DERIVED from the committed dict — see the Scala scaladoc for the spec) ---
_B, _M, _E, _S = 0, 1, 2, 3
_NEG = -1e9
_UNSEEN = -20.0


def _q(x):
    return round(x * 1e6) / 1e6


ZH_HMM_START = [_q(math.log(0.6)), _NEG, _NEG, _q(math.log(0.4))]

ZH_HMM_TRANS = [[_NEG] * 4 for _ in range(4)]
ZH_HMM_TRANS[_B][_M] = _q(math.log(0.3)); ZH_HMM_TRANS[_B][_E] = _q(math.log(0.7))
ZH_HMM_TRANS[_M][_M] = _q(math.log(0.4)); ZH_HMM_TRANS[_M][_E] = _q(math.log(0.6))
ZH_HMM_TRANS[_E][_B] = _q(math.log(0.55)); ZH_HMM_TRANS[_E][_S] = _q(math.log(0.45))
ZH_HMM_TRANS[_S][_B] = _q(math.log(0.55)); ZH_HMM_TRANS[_S][_S] = _q(math.log(0.45))

# candidate predecessors, jieba tuple-max tie winner (larger state letter)
# first under strict >
ZH_HMM_PREV = [[_S, _E], [_M, _B], [_M, _B], [_S, _E]]


def _zh_hmm_emit():
    counts = [{}, {}, {}, {}]
    for w, f in ZH_WORDS.items():
        if f <= 0:
            continue
        if len(w) == 1:
            counts[_S][w[0]] = counts[_S].get(w[0], 0) + f
        else:
            counts[_B][w[0]] = counts[_B].get(w[0], 0) + f
            counts[_E][w[-1]] = counts[_E].get(w[-1], 0) + f
            for c in w[1:-1]:
                counts[_M][c] = counts[_M].get(c, 0) + f
    out = []
    for m in counts:
        total = float(sum(m.values()))
        out.append({c: _q(math.log(float(n)) - math.log(total)) for c, n in m.items()})
    return out


ZH_HMM_EMIT = _zh_hmm_emit()


def zh_hmm_cut(run):
    n = len(run)
    if n == 0:
        return []
    if n == 1:
        return [run]

    def emit(s, c):
        return ZH_HMM_EMIT[s].get(c, _UNSEEN)

    v = [[0.0] * 4 for _ in range(n)]
    back = [[0] * 4 for _ in range(n)]
    for s in range(4):
        v[0][s] = ZH_HMM_START[s] + emit(s, run[0])
    for t in range(1, n):
        for s in range(4):
            best_p, best_prev = float("-inf"), ZH_HMM_PREV[s][0]
            for prev in ZH_HMM_PREV[s]:
                p = (v[t - 1][prev] + ZH_HMM_TRANS[prev][s]) + emit(s, run[t])
                if p > best_p:
                    best_p, best_prev = p, prev
            v[t][s] = best_p
            back[t][s] = best_prev
    last = _S
    if v[n - 1][_E] > v[n - 1][_S]:
        last = _E
    states = [0] * n
    states[n - 1] = last
    for t in range(n - 1, 0, -1):
        states[t - 1] = back[t][states[t]]
    out, begin = [], 0
    for i, st in enumerate(states):
        if st == _B:
            begin = i
        elif st == _E:
            out.append(run[begin:i + 1])
        elif st == _S:
            out.append(run[i])
    return out


def _zh_flush(buf, out):
    if not buf:
        return
    if len(buf) == 1:
        out.append(buf)
    elif ZH_FREQ.get(buf, 0) == 0:
        out.extend(zh_hmm_cut(buf))
    else:
        out.extend(list(buf))


def zh_cut(run):
    """jieba __cut_DAG buffering: consecutive single-char route pieces are
    buffered; a flushed buffer of length >= 2 with no positive dict freq
    goes through the HMM, else chars emit singly."""
    out, buf = [], ""
    for w in zh_cut_no_hmm(run):
        if len(w) == 1:
            buf += w
        else:
            if buf:
                _zh_flush(buf, out)
                buf = ""
            out.append(w)
    if buf:
        _zh_flush(buf, out)
    return out


def is_cjk(c):
    o = ord(c)
    return 0x4E00 <= o <= 0x9FFF or 0x3400 <= o <= 0x4DBF


def tok_words(text):
    out = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if py_is_space(c):
            i += 1
            continue
        if c.isascii() and c.isalnum():
            start = i
            while i < n and text[i].isascii() and text[i].isalnum():
                i += 1
            # decimal join: digits '.' digits
            if (i < n and text[i] == "." and text[start:i].isdigit()
                    and i + 1 < n and text[i + 1].isascii() and text[i + 1].isdigit()):
                i += 1
                while i < n and text[i].isascii() and text[i].isdigit():
                    i += 1
            out.append(text[start:i])
        elif is_cjk(c):
            start = i
            while i < n and is_cjk(text[i]):
                i += 1
            out.extend(zh_cut(text[start:i]))
        else:
            out.append(c)
            i += 1
    return out


TERMINAL_CHARS = set(".!?…。！？")
CLOSERS = set("\"'”’)]」』")


def sentence_count(text):
    t = text.strip()
    if not t:
        return 0
    count, i, n, saw = 0, 0, len(t), False
    while i < n:
        c = t[i]
        if c in TERMINAL_CHARS:
            while i < n and (t[i] in TERMINAL_CHARS or t[i] in CLOSERS):
                i += 1
            if saw:
                count += 1
                saw = False
        else:
            if not py_is_space(c):
                saw = True
            i += 1
    if saw:
        count += 1
    return max(count, 1)


# ---------- stub module tree so the reference files exec cleanly ----------
def make_module(name, **attrs):
    m = types.ModuleType(name)
    for k, v in attrs.items():
        setattr(m, k, v)
    sys.modules[name] = m
    return m


class Document:
    def __init__(self, text, id="0", metadata=None):
        self.text = text
        self.id = id
        self.metadata = metadata or {}


class BaseFilter:
    def __init__(self, exclusion_writer=None, batch_size=1):
        pass

    def stat_update(self, *a, **k):
        pass


class BaseFormatter:
    def __init__(self):
        pass


class _Tok:
    def word_tokenize(self, text):
        return [w for w in (t.strip() for t in tok_words(text)) if w]

    def sent_tokenize(self, text):
        return ["s"] * sentence_count(text)

    def span_tokenize(self, text):
        return [(0, len(text))] * sentence_count(text)


def load_word_tokenizer(lang):
    return _Tok()


def exec_ref(relpath, name, extra_globals=None):
    """exec a reference source file as a module with our stub imports."""
    src = open(f"{REF}/{relpath}").read()
    mod = types.ModuleType(name)
    mod.__dict__.update(extra_globals or {})
    sys.modules[name] = mod
    exec(compile(src, f"{REF}/{relpath}", "exec"), mod.__dict__)
    return mod


def build_modules():
    make_module("loguru", logger=types.SimpleNamespace(
        warning=lambda *a, **k: None, info=lambda *a, **k: None))
    make_module("datatrove")
    make_module("datatrove.data", Document=Document,
                DocumentsPipeline=object, Media=object)
    make_module("datatrove.io",
                cached_asset_path_or_download=lambda *a, **k: None,
                DataFolderLike=object, get_datafolder=lambda *a, **k: None)
    make_module("datatrove.utils")
    make_module("datatrove.utils.typeshelper",
                Languages=types.SimpleNamespace(english="en"), StatHints=object)
    make_module("datatrove.utils.logging", logger=sys.modules["loguru"].logger)
    make_module("datatrove.utils._import_utils", ASSETS_PATH="/tmp",
                check_required_dependencies=lambda *a, **k: None)
    make_module("datatrove.pipeline")
    make_module("datatrove.pipeline.writers")
    make_module("datatrove.pipeline.writers.disk_base", DiskWriter=object)
    make_module("datatrove.pipeline.filters")
    make_module("datatrove.pipeline.filters.base_filter", BaseFilter=BaseFilter)
    make_module("datatrove.pipeline.formatters")
    make_module("datatrove.pipeline.formatters.base", BaseFormatter=BaseFormatter)
    make_module("huggingface_hub", cached_assets_path=lambda *a, **k: "/tmp",
                hf_hub_url=lambda *a, **k: "")

    # the REAL text.py (needs our word_tokenizers stub for split_into_parts)
    make_module("datatrove.utils.word_tokenizers",
                load_word_tokenizer=load_word_tokenizer)
    text_mod = exec_ref("utils/text.py", "datatrove.utils.text")

    gq = exec_ref("pipeline/filters/gopher_quality_filter.py", "ref_gq")
    gr = exec_ref("pipeline/filters/gopher_repetition_filter.py", "ref_gr")
    sys.modules["datatrove.pipeline.filters.gopher_repetition_filter"] = gr
    c4 = exec_ref("pipeline/filters/c4_filters.py", "ref_c4")
    fw = exec_ref("pipeline/filters/fineweb_quality_filter.py", "ref_fw")
    pii = exec_ref("pipeline/formatters/pii.py", "ref_pii")
    return text_mod, gq, gr, c4, fw, pii


BADWORDS_EN = ["badwordalpha", "badwordbeta", "badwordgamma"]


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_diff"
    text_mod, gq, gr, c4, fw, pii = build_modules()

    corpus = pq.read_table(f"{out_dir}/corpus").to_pylist()
    engine = pq.read_table(f"{out_dir}/result").to_pylist()
    engine_by_url = {r["url"]: r for r in engine}
    assert len(corpus) == len(engine)

    # reference pipeline, matching graft.DiffDump stage order
    f_rep = gr.GopherRepetitionFilter()
    f_qual = gq.GopherQualityFilter()
    f_c4 = c4.C4QualityFilter()
    f_fw = fw.FineWebQualityFilter()
    f_bad = c4.C4BadWordsFilter(fail_on_missing_language=False)
    f_bad._badwords_regex["en"] = re.compile(
        r"(?:\W|^)({})(?:\W|$)".format("|".join(map(re.escape, BADWORDS_EN))))
    f_pii = pii.PIIFormatter()

    stages = [("gopher_repetition", f_rep), ("gopher_quality", f_qual),
              ("c4_quality", f_c4), ("fineweb_quality", f_fw),
              ("c4_badwords", f_bad)]

    tp = fp = fn = tn = 0
    label_mismatches = []
    reason_mismatches = []
    text_mismatches = []
    for row in corpus:  # doc order = id order (single partition dump)
        doc = Document(row["text"], id=row["url"], metadata={})
        ref_keep, ref_reason, ref_stage = True, "", ""
        for sname, f in stages:
            r = f.filter(doc)
            if r is not True and (r is False or (isinstance(r, tuple) and not r[0])):
                ref_keep = False
                ref_reason = r[1] if isinstance(r, tuple) else ""
                ref_stage = sname
                break
        if ref_keep:
            doc.text = f_pii.format(doc.text)

        e = engine_by_url[row["url"]]
        if ref_keep and e["keep"]:
            tp += 1
            if doc.text != e["text"]:
                text_mismatches.append((row["url"], doc.text[:80], e["text"][:80]))
        elif ref_keep and not e["keep"]:
            fn += 1
            label_mismatches.append((row["url"], "ref_keep", e["drop_reason"]))
        elif not ref_keep and e["keep"]:
            fp += 1
            label_mismatches.append((row["url"], f"ref_drop:{ref_reason}", "engine_keep"))
        else:
            tn += 1
            if ref_reason != e["drop_reason"]:
                reason_mismatches.append((row["url"], ref_reason, e["drop_reason"]))

    # minhash-input parity: reference simplify_text + sha1_hash64 of the
    # first 5-gram vs the engine's simplified/sig0 columns (on the FINAL
    # engine text, i.e. post-C4-rewrite/PII — so compare on the same basis)
    import hashlib
    import struct as _struct
    simp_mism = sig_mism = simp_total = 0
    for row in corpus:
        e = engine_by_url[row["url"]]
        base = e["text"]  # engine's final text; both sides derive from it
        simp_total += 1
        ref_simplified = text_mod.simplify_text(base)
        if ref_simplified != e["simplified"]:
            simp_mism += 1
            if simp_mism <= 3:
                print(f"  SIMPLIFY MISMATCH: {row['url']}: "
                      f"{ref_simplified[:60]!r} vs {e['simplified'][:60]!r}")
        ws = tok_words(ref_simplified)
        ref_sig = (-1 if len(ws) < 5 else _struct.unpack(
            "<Q", hashlib.sha1(" ".join(ws[:5]).encode()).digest()[:8])[0])
        eng = e["sig0"]
        eng_sig = -1 if eng == -1 else (eng & 0xFFFFFFFFFFFFFFFF)
        if ref_sig != eng_sig:
            sig_mism += 1
    print(f"simplify_text parity: {(simp_total - simp_mism) / simp_total:.6f}; "
          f"first-shingle sha1 parity: {(simp_total - sig_mism) / simp_total:.6f}")

    precision = tp / (tp + fp) if tp + fp else 0
    recall = tp / (tp + fn) if tp + fn else 0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0
    print(f"docs={len(corpus)} tp={tp} tn={tn} fp={fp} fn={fn}")
    print(f"keep/drop F1 = {f1:.6f} (precision={precision:.6f} recall={recall:.6f})")
    print(f"drop-reason agreement on true drops: "
          f"{(tn - len(reason_mismatches)) / tn if tn else 1:.6f}")
    print(f"scrubbed-text exact matches on kept: "
          f"{(tp - len(text_mismatches)) / tp if tp else 1:.6f}")
    for name, lst in [("LABEL", label_mismatches), ("REASON", reason_mismatches),
                      ("TEXT", text_mismatches)]:
        for m in lst[:5]:
            print(f"  {name} MISMATCH: {m}")
    ok = f1 >= 0.99 and not text_mismatches
    print("RESULT:", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
