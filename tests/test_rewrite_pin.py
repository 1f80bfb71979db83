"""Every corpus rewrite prints byte-identically to its pin.

``tests/data/corpus_rewrites.json`` holds the printed SQL of the 56
``__spark_entry__._QUERIES`` texts × the 9 preset users × the four rewrite
entry points over the sf0.001 tables; ``tools/pin_rewrites.py`` writes it.
"""

import json

from tools.pin_rewrites import PIN, corpus_rewrites


def test_corpus_rewrites_match_pin(spark):
    with open(PIN) as f:
        want = json.load(f)
    got = corpus_rewrites(spark)
    assert len(want) == 56 * 9 * 4
    assert got.keys() == want.keys()
    changed = [k for k in want if got[k] != want[k]]
    assert not changed, (len(changed), changed[:3],
                         [(want[k], got[k]) for k in changed[:1]])
