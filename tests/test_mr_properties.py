"""Property-based tests for the MR-compat layer: on ARBITRARY corpora the
MR path must agree with the declarative DataFrame path, and the sorted sink
must uphold the reference's global-order guarantee (description.md:56).

Few, large examples (Spark round-trips cost seconds, so Hypothesis budgets
are deliberately small — the value is the generator's adversarial corpora:
empty lines, repeated tokens, delimiter runs, unicode-adjacent chars)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduce_infrastructure_spark.mr.api import WordCountMapper
from mapreduce_infrastructure_spark.mr.runner import run_mr_job, write_sorted_text

# Tokens over the reference delimiter set " ,.\"'" — build lines from words
# and delimiters so tokenization edge cases (leading/trailing/repeated
# delimiters, empty lines) are generated.
_WORD = st.text(alphabet="abcxyz01", min_size=1, max_size=6)
_SEP = st.sampled_from([" ", ", ", ". ", " \"", "' "])
_LINE = st.lists(_WORD, min_size=0, max_size=8).flatmap(
    lambda ws: _SEP.map(lambda s: s.join(ws))
)
_CORPUS = st.lists(_LINE, min_size=1, max_size=30)


def _expected_counts(lines: list[str]) -> dict[str, int]:
    counts: dict[str, int] = {}
    for line in lines:
        for d in " ,.\"'":
            line = line.replace(d, " ")
        for tok in line.split():
            counts[tok] = counts.get(tok, 0) + 1
    return counts


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_CORPUS)
def test_mr_wordcount_matches_reference_semantics(spark, corpus):
    df = spark.createDataFrame([(line,) for line in corpus], "value string")
    kv = run_mr_job(spark, df, user_id="cs6210", num_output_files=4)
    got = {r.key: int(r.value) for r in kv.collect()}
    assert got == _expected_counts(corpus)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_CORPUS)
def test_sorted_sink_global_order(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mr_out"))
    df = spark.createDataFrame([(line,) for line in corpus], "value string")
    kv = run_mr_job(spark, df, user_id="cs6210", num_output_files=3)
    files = write_sorted_text(kv, out, num_files=3)
    assert len(files) <= 3
    # Concatenating output_0..output_R in order must yield globally
    # key-sorted lines (reference guarantee: description.md:56 + R files
    # named output_{i}, src/master.h:110-113).
    keys = []
    for f in files:
        with open(f) as fh:
            keys.extend(line.split(", ")[0] for line in fh if line.strip())
    assert keys == sorted(keys)
    assert len(keys) == len(_expected_counts(corpus))


def _char_loop_tokens(record: str) -> list[str]:
    """The demo mapper's tokenizer as a per-character loop over the
    reference delimiter set (test/user_tasks.cc:12-22)."""
    tokens, token = [], []
    for ch in record:
        if ch in " ,.\"'":
            if token:
                tokens.append("".join(token))
                token = []
        else:
            token.append(ch)
    if token:
        tokens.append("".join(token))
    return tokens


_DELIMITER_HEAVY = st.text(
    alphabet=st.sampled_from(list(" ,.\"'\t\r\x0b\x0c\n\u00a0") + list("ab1éß漢")),
    max_size=40,
)


@settings(max_examples=500, deadline=None)
@given(record=st.one_of(_DELIMITER_HEAVY, st.text(max_size=40)))
def test_wordcount_mapper_tokens_match_the_character_loop(record):
    """The compiled split emits the per-character loop's tokens in order,
    each with value "1": delimiter runs, leading and trailing delimiters,
    empty records, non-ASCII letters, and whitespace that is not a
    delimiter (tab, CR, vertical tab, form feed, NBSP) all included."""
    mapper = WordCountMapper()
    mapper.map(record)
    assert mapper._drain() == [(t, "1") for t in _char_loop_tokens(record)]
