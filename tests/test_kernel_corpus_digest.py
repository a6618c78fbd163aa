"""Whole-kernel output pin: one sha256 over every field of ``convert_text``
for a fixed generated corpus plus every golden fixture.

Any change to any byte of any output field (text, spans, counts, error
strings, image inventory) of any of the 37,170 inputs moves the digest.
Performance work on the parser, the special-element walk, the linearizer
or the cleanup chain must leave it unchanged.
"""

import dataclasses
import hashlib

from extractor.fixtures import FIXTURE_CASES
from extractor.kernel import convert_text
from extractor.transcripts import generate_conversation

SEEDS = (1, 42, 601)
CONVERSATIONS = 1000
MEAN_TURNS = 10
EXPECTED = "57b55d9aeb5baca92e4bcc8e560f285230a16300c938f8b88736caceb7da426b"


def corpus_digest() -> tuple[str, int]:
    h = hashlib.sha256()
    calls = 0

    def feed(text):
        nonlocal calls
        h.update(repr(dataclasses.asdict(convert_text(text))).encode())
        calls += 1

    for seed in SEEDS:
        for conv in range(CONVERSATIONS):
            for row in generate_conversation(seed, conv, MEAN_TURNS):
                feed(row[3])
    for name in sorted(FIXTURE_CASES):
        feed(FIXTURE_CASES[name])
    return h.hexdigest(), calls


def test_kernel_corpus_digest():
    digest, calls = corpus_digest()
    assert calls == 37170
    assert digest == EXPECTED
