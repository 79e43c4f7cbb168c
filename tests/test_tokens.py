import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ragflow_spark.functions.delimiters import get_delimiters
from ragflow_spark.functions.tokens import num_tokens, num_tokens_series, truncate


def test_empty():
    assert num_tokens("") == 0
    assert num_tokens(None) == 0


def test_word_pieces():
    # 4-char greedy pieces: "data" = 1, "partition" = ceil(9/4) = 3
    assert num_tokens("data") == 1
    assert num_tokens("partition") == 3
    assert num_tokens("a b c") == 3


def test_cjk_per_char():
    assert num_tokens("数据分析") == 4
    assert num_tokens("数据 data") == 3


def test_punct_runs():
    assert num_tokens("hello, world!") == 6  # hell+o , worl+d ! -> 2+1+2+1
    assert num_tokens("...") == 1
    assert num_tokens("......") == 2


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(), st.text(alphabet="ab9 数据.,;!…\u3000\n\t"))))
@example(["", "data", "partition table", "数据分析 with text", "a,b;c", None])
def test_series_matches_scalar(texts):
    """The vectorized counter (three str.count passes) and the scalar hot
    path (one possessive pass) must agree on every string."""
    s = num_tokens_series(pd.Series(texts, dtype=object))
    assert list(s) == [num_tokens(t) for t in texts]


def test_truncate():
    s = "word " * 50
    t = truncate(s, 10)
    assert num_tokens(t) <= 10
    assert s.startswith(t)


def test_delimiters_longest_first():
    pat = get_delimiters("\n。`##`")
    assert pat.startswith("\\#\\#")  # multi-char first
    assert "\\\n" in pat or "\n" in pat
