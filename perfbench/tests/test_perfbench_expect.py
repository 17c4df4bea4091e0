import json

import pandas as pd
import pytest

from perfbench import expect
from perfbench.gen import PromptStream


@pytest.fixture(scope="module")
def prompts():
    return PromptStream(1, 0).fresh(300)


def test_extract_rules_match_the_stub(prompts):
    from sutro_spark.operators.backends import StubBackend

    raw = StubBackend().generate(pd.Series(prompts), output_schema=expect.EXTRACT_SCHEMA)
    got = pd.DataFrame([json.loads(x) for x in raw["outputs"]])
    want = expect.expected_extract(pd.Series(prompts))
    for col in expect.EXTRACT_FIELDS:
        assert got[col].tolist() == want[col].tolist(), col


def test_template_rules_match_the_stub(prompts):
    from sutro_spark.operators.backends import StubBackend
    from sutro_spark.operators.templates import classification_schema, score_schema

    stub = StubBackend()
    cls = stub.generate(pd.Series(prompts), output_schema=classification_schema(expect.CLASSES))
    assert [json.loads(x)["classification"] for x in cls["outputs"]] == \
        expect.expected_classes(prompts)
    sc = stub.generate(pd.Series(prompts), output_schema=score_schema(expect.SCORE_RANGE))
    assert [json.loads(x)["score"] for x in sc["outputs"]] == expect.expected_scores(prompts)
    emb = stub.embed(pd.Series(prompts), dim=expect.EMBED_DIM)
    assert [list(v) for v in emb] == expect.expected_embeddings(prompts)


def test_expected_ratings_match_the_bradley_terry_fit(prompts):
    from sutro_spark.operators.elo import bradley_terry_elo

    ballots = list(zip(prompts, prompts[1:] + prompts[:1]))
    a_wins = sum(1 for a, b in ballots if len(expect.rank_prompt(a, b)) % 2 == 0)
    fit = {r["label"]: r for r in bradley_terry_elo(
        [("a", "b", a_wins, 0), ("b", "a", len(ballots) - a_wins, 0)])}
    for label, want in expect.expected_ratings(ballots).items():
        for key, value in want.items():
            assert fit[label][key] == pytest.approx(value, abs=1e-6)


def test_extract_failures_counts_wrong_and_misaligned_rows(prompts):
    want = expect.expected_extract(pd.Series(prompts))
    result = want.assign(prompt=prompts, inputs=prompts)
    assert expect.extract_failures(result, prompts, with_inputs=True, ordered=True) == 0
    broken = result.copy()
    broken.loc[3, "rating"] = 99
    broken.loc[7, "inputs"] = "x"
    assert expect.extract_failures(broken, prompts, with_inputs=True, ordered=True) == 2
    swapped = result.iloc[[1, 0, *range(2, len(result))]]
    assert expect.extract_failures(swapped, prompts, with_inputs=True, ordered=True) == 2
    shuffled = result.assign(__row_id=range(len(result))).sample(frac=1, random_state=0)
    assert expect.extract_failures(shuffled, prompts, with_inputs=True, ordered=False) == 0
    assert expect.extract_failures(result.iloc[:-1], prompts, with_inputs=True,
                                   ordered=True) == len(prompts)


def test_http_failures_detects_misalignment():
    prompts = ["alpha", "beta", "gamma"]
    good = pd.DataFrame({"outputs": [expect.http_reply(p) for p in prompts]})
    assert expect.http_failures(good, prompts) == 0
    assert expect.http_failures(good.iloc[::-1].reset_index(drop=True), prompts) == 2
    assert expect.http_failures(good.iloc[:2], prompts) == 3
