"""The same seed makes byte-identical inputs; another seed does not."""

from __future__ import annotations

import hashlib
import os

import pytest

import gen

GENERATORS = {
    "methyl": lambda seed, d: gen.methyl_inputs(seed, 300, 8, d),
    "idat": lambda seed, d: gen.idat_inputs(seed, 300, 4, d),
    "corpus": lambda seed, d: gen.corpus_inputs(seed, 400, 200, d),
}


def tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_bytes(name, tmp_path):
    digests = []
    for run, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / run
        d.mkdir()
        GENERATORS[name](seed, str(d))
        digests.append(tree_digest(str(d)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]
