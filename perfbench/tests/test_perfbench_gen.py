from perfbench.gen import MAX_WORDS, MIN_WORDS, PromptStream, load_vocab


def test_same_seed_same_prompts_other_seed_other_prompts():
    assert PromptStream(3, 0).fresh(50) == PromptStream(3, 0).fresh(50)
    assert PromptStream(3, 0).fresh(50) != PromptStream(4, 0).fresh(50)
    assert PromptStream(3, 0).fresh(50) != PromptStream(3, 1).fresh(50)


def test_fresh_prompts_are_unique_vocabulary_sentences():
    vocab = set(load_vocab())
    stream = PromptStream(1, 0)
    prompts = stream.fresh(500) + stream.fresh(500)
    assert len(set(prompts)) == 1000
    for p in prompts:
        words = p.split(" ")
        assert MIN_WORDS <= len(words) <= MAX_WORDS
        assert set(words) <= vocab
    mean_len = sum(map(len, prompts)) / len(prompts)
    assert 250 < mean_len < 350


def test_batch_with_repeats_repeats_exactly_the_asked_share():
    stream = PromptStream(5, 0)
    sent: list[str] = []
    for _ in range(4):
        batch = stream.batch_with_repeats(500, 0.25)
        assert len(batch) == 500
        new = [p for p in dict.fromkeys(batch) if p not in sent]
        assert len(new) == 375  # the rest repeat earlier prompts
        sent.extend(batch)
    assert len(sent) / len(set(sent)) == 500 / 375


def test_batch_with_repeats_is_seeded():
    a = PromptStream(9, 2).batch_with_repeats(100, 0.25)
    b = PromptStream(9, 2).batch_with_repeats(100, 0.25)
    assert a == b
