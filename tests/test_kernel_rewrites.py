"""Differential tests: each rewritten kernel primitive against its previous
formulation, kept verbatim below.

The rewrites trade repeated text scans for substring guards, possessive
regexes and pointer loops; each one is exact only by an argument about the
patterns involved. These tests check that argument on inputs that reach the
guarded branches, which the generated corpora never do: "(cid:N)" glyph
references, ToC headings spelled with spaces or ideographic spaces, "İ"
(which grows under lower()), no-break spaces (not stripped by _SPACES), dot
leaders, CJK and punctuation runs, trailing Unicode whitespace.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ragflow_spark.functions.tokens import num_tokens
from ragflow_spark.kernels import layout as L
from ragflow_spark.schemas import PAGE_H, PAGE_W, Geom, geom_fields

# ---------------------------------------------------------------- old forms

_WORD = r"[A-Za-z0-9]{1,4}"
_CJK = r"[一-鿿]"
_OTHER = r"[^\sA-Za-z0-9一-鿿]{1,3}"
_OLD_ALL_RE = re.compile(f"{_WORD}|{_CJK}|{_OTHER}")


def old_num_tokens(s):
    if not s:
        return 0
    return len(_OLD_ALL_RE.findall(s))


def defining_num_tokens(s):
    # the counter's definition: three separate greedy passes
    s = s or ""
    return sum(len(re.findall(p, s)) for p in (_WORD, _CJK, _OTHER))


_OLD_JUNK_RE = re.compile(
    r"^•+$|^[0-9]{1,2} / ?[0-9]{1,2}$|^[0-9]{1,2} of [0-9]{1,2}$"
    r"|^http://[^ ]{12,}|\(cid *: *[0-9]+ *\)"
)


def old_is_junk(text):
    return bool(_OLD_JUNK_RE.search(text))


_TOC_HEAD = re.compile(r"(contents|目录|目次|tableofcontents|致谢|acknowledge)$", re.I)
_SPACES = re.compile(r"( | |　)+")
_DOT_LEADER = re.compile(r"(\.{4,}|·{2,}|…{2,})")
_ENG_PREFIX = re.compile(r"[0-9a-zA-Z :'.-]{5,}")


def old_is_toc_head(text):
    return bool(_TOC_HEAD.match(_SPACES.sub("", text.lower())))


def old_filter_toc(boxes):
    bxs = list(boxes)
    findit = False
    i = 0
    while i < len(bxs):
        head = _SPACES.sub("", (bxs[i]["text"] or "").lower())
        if not _TOC_HEAD.match(head):
            i += 1
            continue
        findit = True
        eng = bool(_ENG_PREFIX.match((bxs[i]["text"] or "").strip()))
        bxs.pop(i)
        if i >= len(bxs):
            break

        def get_prefix(j):
            t = (bxs[j]["text"] or "").strip()
            return " ".join(t.split()[:2]) if eng else t[:3]

        prefix = get_prefix(i)
        while not prefix:
            bxs.pop(i)
            if i >= len(bxs):
                return bxs
            prefix = get_prefix(i)
        bxs.pop(i)
        if i >= len(bxs) or not prefix:
            break
        for j in range(i, min(i + 128, len(bxs))):
            if not re.match(re.escape(prefix), bxs[j]["text"] or ""):
                continue
            del bxs[i:j]
            break
    if findit:
        return bxs

    dirty = Counter()
    for b in bxs:
        if _DOT_LEADER.search(b["text"] or ""):
            dirty[b["pn"]] += 1
    dirty_pages = {pn for pn, c in dirty.items() if c > 3}
    if not dirty_pages:
        return bxs
    return [b for b in bxs if b["pn"] not in dirty_pages]


def old_page_mean_height(boxes):
    acc = {}
    for b in boxes:
        acc.setdefault(b["pn"], []).append(b["bottom"] - b["top"])
    return {pn: ((sum(v) / len(v)) or 10.0) for pn, v in acc.items()}


def old_page_mean_width(boxes):
    acc = {}
    for b in boxes:
        acc.setdefault(b["pn"], []).append(b["x1"] - b["x0"])
    return {pn: ((sum(v) / len(v)) or 100.0) for pn, v in acc.items()}


def old_vertical_merge(boxes, is_english):
    if not boxes:
        return boxes
    mh = old_page_mean_height(boxes)
    mw = old_page_mean_width(boxes)
    out = []
    i = 0
    bxs = [dict(b) for b in boxes]
    while i < len(bxs):
        b = bxs[i]
        nxt = bxs[i + 1] if i + 1 < len(bxs) else None
        t = (b["text"] or "").strip()
        if nxt is not None and b["pn"] < nxt["pn"] and L._PAGE_DROPPINGS.fullmatch(t):
            bxs.pop(i)
            continue
        if not t:
            bxs.pop(i)
            continue
        if nxt is None:
            out.append(b)
            break
        t_ = (nxt["text"] or "").strip()
        concatting = (
            t[-1] in L._CONCAT_TAIL
            or (len(t) > 1 and t[-2] in L._CONCAT_TAIL2)
            or (t_ and t_[0] in L._CONCAT_HEAD)
        )
        region_change = (
            (b["lo"], b["pn"]) != (nxt["lo"], nxt["pn"])
            if (b["lo"] >= 0 or nxt["lo"] >= 0)
            else b["kind"] != nxt["kind"]
        )
        nofeats = [
            region_change,
            t[-1] in L._SENT_END_CN,
            is_english and t[-1] in L._SENT_END_EN,
            b["pn"] == nxt["pn"]
            and nxt["top"] - b["bottom"] > mh.get(b["pn"], 10.0) * 1.5,
            b["pn"] < nxt["pn"]
            and abs(b["x0"] - nxt["x0"]) > mw.get(b["pn"], 100.0) * 4,
        ]
        detached = b["x1"] < nxt["x0"] or b["x0"] > nxt["x1"]
        if (any(nofeats) and not concatting) or detached:
            out.append(b)
            i += 1
            continue
        b["text"] = (b["text"] or "") + L._joiner(b["text"], nxt["text"]) + (nxt["text"] or "")
        b["bottom"] = nxt["bottom"] + (nxt["pn"] - b["pn"]) * PAGE_H
        b["x0"] = min(b["x0"], nxt["x0"])
        b["x1"] = max(b["x1"], nxt["x1"])
        bxs[i] = b
        bxs.pop(i + 1)
    return out


def old_proj_match(line):
    if len(line) <= 2:
        return None
    if L._PROJ_PURE_NUM.match(line):
        return False
    for pat, rank in L._PROJ_PATTERNS:
        if pat.match(line):
            return rank
    return None


def old_filter_scraps(boxes, page_w=PAGE_W):
    if not boxes:
        return boxes
    mh = old_page_mean_height(boxes)
    order = {id(b): i for i, b in enumerate(boxes)}
    bxs = list(boxes)
    kept = []
    while bxs:
        first = bxs[0]
        mhp = mh.get(first["pn"], 10.0)
        mj = bool(old_proj_match((first["text"] or "").strip())) or first["kind"] == "title"
        lines = []
        if L._scrap_usefull(first, page_w, mhp):
            cur = bxs.pop(0)
            lines.append(cur)
            while True:
                mmj = (
                    bool(old_proj_match((cur["text"] or "").strip()))
                    or cur["kind"] == "title"
                )
                cur_h = cur["bottom"] - cur["top"]
                nxt = None
                for i in range(min(19, len(bxs))):
                    b = bxs[i]
                    if b["pn"] > cur["pn"]:
                        break
                    y_dis = abs(
                        (cur["pn"] * PAGE_H + (cur["top"] + cur["bottom"]) / 2)
                        - (b["pn"] * PAGE_H + (b["top"] + b["bottom"]) / 2)
                    )
                    if not mmj and y_dis >= 3 * mhp and cur_h < 1.5 * mhp:
                        break
                    if not L._scrap_usefull(b, page_w, mhp):
                        continue
                    x_overlap = not (cur["x1"] < b["x0"] or cur["x0"] > b["x1"])
                    x_dis = 0.0 if x_overlap else min(
                        abs(cur["x1"] - b["x0"]), abs(cur["x0"] - b["x1"])
                    )
                    if mmj or x_dis < page_w / 10:
                        nxt = i
                        break
                if nxt is None:
                    break
                cur = bxs.pop(nxt)
                lines.append(cur)
        else:
            bxs.pop(0)
        if not lines:
            continue
        mw = sum(b["x1"] - b["x0"] for b in lines) / len(lines)
        if mj or mw / page_w >= 0.35 or mw > 200:
            kept.extend(lines)
    kept.sort(key=lambda b: order[id(b)])
    return kept


def old_unpack_geom(media_ref):
    if not media_ref:
        return None
    if media_ref.startswith("geom://"):
        body = media_ref[7:]
    elif "#geom=" in media_ref:
        body = media_ref.split("#geom=", 1)[1]
    else:
        return None
    parts = body.split(",")
    if len(parts) < 5:
        return None
    pn = int(parts[0])
    x0 = float(parts[1])
    x1 = float(parts[2])
    top = float(parts[3])
    bottom = float(parts[4])
    lo = int(parts[5]) if len(parts) > 5 else -1
    if x0 != x0 or x1 != x1 or top != top or bottom != bottom:
        return None
    return Geom(pn, x0, x1, top, bottom, lo)


# --------------------------------------------------------------- strategies

FRAGMENTS = [
    "(cid : 12 )", "(cid:3)", "(cid", "( cid:1)", "Contents\n", "Contents",
    "C O N T E N T S", "C　O N", "contents", "Table of Contents",
    "TABLE OF CONTENTS\n", "tableofcontents", "目录", "目 录", "目　次",
    "致谢", "Acknowledge", "　", " ", "İ", "İİİİ", "....", "...",
    ".....", "··", "·", "……", "…", "•", "••", "1 / 12", "3 of 9", "12 /3",
    "http://", "example.com/long/url", "数据分析", "第三章", "第1条", "1.",
    "2.3 ", "1.2.3 ", "(3)", "（三）", "3）", "三、", "三是", ":", "？",
    "\n", " ", "  ", "\t", "abc", "Intro", "Ünïcödé", "!!!", "---", "12",
]
ALPHABET = "aZ09 .·…•/()（）:：?？\n\t　 İ数据-,;第章"

TEXT = st.one_of(
    st.lists(
        st.one_of(st.sampled_from(FRAGMENTS), st.text(alphabet=ALPHABET, max_size=6)),
        max_size=8,
    ).map("".join),
    st.text(max_size=40),
)


# ToC-shaped lines: headings, dot-leader entries, and the section lines
# their prefixes point at
TOC_TEXT = st.one_of(
    TEXT,
    st.sampled_from([
        "Contents", "C O N T E N T S", "目　录", "Table of Contents\n", "致谢",
        "Intro ..... 3", "Chapter 1 ·· 2", "第一章……9", "Intro", "Chapter 1 more",
        "第一章 总则", "", "   ",
    ]),
)
LEADER_TEXT = st.one_of(
    TEXT, st.sampled_from(["a ..... 1", "b ·· 2", "c …… 3", "d....4", "body"]),
)


@st.composite
def stacked_boxes(draw, text=TEXT, page_odds=5, max_size=14):
    """Lines stacked down the page(s): small vertical gaps, a few columns
    and widths, so merges, ToC pops and scrap runs all occur. A new page
    starts with probability 1/(page_odds+1) per line."""
    n = draw(st.integers(0, max_size))
    boxes, pn, top = [], 0, 72.0
    for _ in range(n):
        if draw(st.integers(0, page_odds)) == 0:
            pn += 1
            top = 72.0
        top += draw(st.sampled_from([0.0, 4.0, 12.0, 14.0, 30.0]))
        h = draw(st.sampled_from([8.0, 10.0, 24.0]))
        x0 = draw(st.sampled_from([72.0, 80.0, 300.0, 520.0]))
        w = draw(st.sampled_from([30.0, 150.0, 230.0, 440.0]))
        boxes.append({
            "kind": draw(st.sampled_from(["text", "text", "title", "table"])),
            "text": draw(st.one_of(st.none(), text)),
            "media_ref": "",
            "pn": pn, "x0": x0, "x1": x0 + w, "top": top, "bottom": top + h,
            "lo": draw(st.sampled_from([-1, -1, -1, 0, 1])),
        })
    return boxes


# -------------------------------------------------------------------- tests


@settings(max_examples=400, deadline=None)
@given(st.one_of(st.none(), TEXT))
@example("hello, world!  　 \n")
@example(" " * 50)
@example("İ数据 data...... (cid:1) ")
def test_num_tokens_matches_old_and_definition(s):
    assert num_tokens(s) == old_num_tokens(s) == defining_num_tokens(s)


@settings(max_examples=400, deadline=None)
@given(TEXT)
@example("(cid : 12 )")
@example("text (cid:7) more")
@example("(cid")
@example("1 / 12")
@example("3 of 9\n")
@example("•••")
@example("http://example.com/long/url")
def test_is_junk_matches_old(s):
    assert L.is_junk(s) == old_is_junk(s)


@settings(max_examples=400, deadline=None)
@given(TEXT)
@example("Contents\n")
@example("C O N T E N T S")
@example("tableofcontents\n")
@example("table of contents\n")
@example("tableofcontents\n\n")
@example("　　目　录 ")
@example("Contents ")
@example("İcontents")
@example("İ" * 16)
def test_is_toc_head_matches_old(s):
    assert L.is_toc_head(s) == old_is_toc_head(s)


@settings(max_examples=400, deadline=None)
@given(TEXT)
@example("Chapter 1 ..... 3")
@example("a··b")
@example("……")
@example("...")
def test_has_dot_leader_matches_old(s):
    assert L.has_dot_leader(s) == bool(_DOT_LEADER.search(s))


@settings(max_examples=300, deadline=None)
@given(TEXT)
@example("1. Introduction")
@example("2.3 Methods")
@example("1.2.3.4 y")
@example("Short heading:")
@example("三是")
@example("12 345.6%")
def test_proj_match_matches_old(s):
    for line in (s, s.strip()):
        assert L.proj_match(line) == old_proj_match(line)


@settings(max_examples=400, deadline=None)
@given(st.one_of(
    stacked_boxes(),
    stacked_boxes(text=TOC_TEXT),
    stacked_boxes(text=LEADER_TEXT, page_odds=12),
))
def test_filter_toc_matches_old(boxes):
    assert [id(b) for b in L.filter_toc(boxes)] == [id(b) for b in old_filter_toc(boxes)]


@settings(max_examples=300, deadline=None)
@given(stacked_boxes(), st.booleans())
def test_vertical_merge_matches_old(boxes, eng):
    new = L.vertical_merge(boxes, eng)
    assert new == old_vertical_merge(boxes, eng)
    assert all(o is not b for o in new for b in boxes)  # copies, as before


@settings(max_examples=300, deadline=None)
@given(stacked_boxes())
def test_filter_scraps_matches_old(boxes):
    new = L.filter_scraps(boxes)
    old = old_filter_scraps(boxes)
    assert [id(b) for b in new] == [id(b) for b in old]


@settings(max_examples=300, deadline=None)
@given(st.lists(
    st.one_of(st.floats(), st.sampled_from([0.0, -0.0, 1.5, math.inf, -math.inf])),
    min_size=1, max_size=12,
))
def test_median_matches_numpy(vals):
    got, want = L.median(vals), float(np.median(vals))
    # == also equates 0.0 and -0.0: both medians only feed "or 10.0" and
    # comparisons, where the sign of zero cannot show
    assert (math.isnan(got) and math.isnan(want)) or got == want


@settings(max_examples=300, deadline=None)
@given(stacked_boxes())
def test_page_means_match_old(boxes):
    assert L.page_mean_height(boxes) == old_page_mean_height(boxes)
    assert L.page_mean_width(boxes) == old_page_mean_width(boxes)


GEOM_REF = st.one_of(
    st.none(),
    st.text(alphabet="geom:/blob#=,.0123456789-naif", max_size=30),
    st.builds(
        lambda pre, nums: pre + ",".join(nums),
        st.sampled_from(["geom://", "blob://d/1#geom=", "x#geom=", "", "geom:"]),
        st.lists(
            st.one_of(
                st.integers(-3, 900).map(str),
                st.floats(allow_nan=True).map(repr),
                st.sampled_from(["nan", "inf", "-0", "1e3"]),
            ),
            max_size=7,
        ),
    ),
)


def _outcome(fn, ref):
    try:
        return fn(ref)
    except ValueError as e:  # malformed numbers raise, before and after
        return type(e)


@settings(max_examples=400, deadline=None)
@given(GEOM_REF)
@example("geom://1,72,500,100,110")
@example("blob://doc/3#geom=0,1.5,2.5,3,4,7")
@example("geom://0,nan,1,2,3")
def test_geom_decoding_matches_old(ref):
    old = _outcome(old_unpack_geom, ref)
    if isinstance(old, Geom):
        old = (old.pn, old.x0, old.x1, old.top, old.bottom, old.layoutno)
    assert _outcome(geom_fields, ref) == old
