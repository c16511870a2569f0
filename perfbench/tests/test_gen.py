import collections
import itertools
import math
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen


def _bytes(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


@pytest.mark.parametrize("workload", ["analytics", "llm_pipeline", "ingest"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate(a, 3, workload, 1.0)
    gen.generate(b, 3, workload, 1.0)
    gen.generate(c, 4, workload, 1.0)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a).keys() == _bytes(c).keys()
    assert _bytes(a) != _bytes(c)


def test_every_seed_gives_same_schemas_and_row_counts(tmp_path):
    shapes = []
    for seed in (1, 2):
        d = str(tmp_path / str(seed))
        gen.generate(d, seed, "analytics", 1.0)
        shapes.append({
            f: (pq.read_schema(os.path.join(d, f)),
                pq.ParquetFile(os.path.join(d, f)).metadata.num_rows)
            for f in os.listdir(d) if f.endswith(".parquet")})
    assert shapes[0] == shapes[1]
    assert len(shapes[0]) == 10
    assert shapes[0]["lineitem.parquet"][1] == gen.rows(
        "lineitem", gen.ANALYTICS_SCALE)


def _near_pairs(docs) -> int:
    """Pairs in the same (lang, source) block, the blocking the engine's
    near-dedup uses, whose token sets have Jaccard >= 0.5."""
    blocks = {}
    for text, lang, source in zip(*(docs.column(c).to_pylist()
                                     for c in ("text", "lang", "source"))):
        blocks.setdefault((lang, source), []).append(set(text.split(" ")))
    return sum(len(a & b) >= 0.5 * len(a | b)
               for block in blocks.values()
               for a, b in itertools.combinations(block, 2))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_duplicate_shares_do_not_depend_on_seed(seed):
    n = 400
    docs = gen.gen_documents(seed, n)
    n_near = round(n * gen.NEAR_DUP_SHARE)
    n_exact = round(n * gen.EXACT_DUP_SHARE)
    assert n - len(set(docs.column("text").to_pylist())) == n_exact
    # every copy pairs with its original; copies of one original add a few
    assert n_near + n_exact <= _near_pairs(docs) <= 1.5 * (n_near + n_exact)

    emb = gen.gen_embeddings(seed, 200).column("embedding").to_pylist()
    x = np.array(emb)
    cos = x @ x.T
    np.fill_diagonal(cos, -1)
    close = (cos > 0.95).any(axis=1).sum()
    n_jit = round(200 * gen.JITTER_SHARE)
    assert n_jit <= close <= 2 * n_jit


@pytest.mark.parametrize("share", [0.0, 0.05, 0.2])
def test_near_pair_count_follows_the_near_dup_share(monkeypatch, share):
    monkeypatch.setattr(gen, "NEAR_DUP_SHARE", share)
    monkeypatch.setattr(gen, "EXACT_DUP_SHARE", 0.0)
    n = 600
    n_near = round(n * share)
    assert n_near <= _near_pairs(gen.gen_documents(7, n)) <= 1.5 * n_near


def test_tfidf_keyword_scores_are_not_all_zero():
    """The engine's keyword query scores tf * ln(n_langs / df) per
    language; terms must not all be shared by every language."""
    docs = gen.gen_documents(2, 2000)
    tf = collections.Counter()
    for text, lang in zip(docs.column("text").to_pylist(),
                          docs.column("lang").to_pylist()):
        tf.update((lang, t) for t in text.split(" "))
    langs = {lang for lang, _ in tf}
    df = collections.Counter(t for _, t in tf)
    top = {}
    for (lang, t), n in tf.items():
        top.setdefault(lang, []).append(n * math.log(len(langs) / df[t]))
    assert len(langs) == len(gen.LANGS)
    for scores in top.values():
        assert sorted(scores)[-5] > 0
    assert {1, len(langs)} <= set(df.values())


def test_ingest_event_ids_are_unique_across_files():
    ids = np.concatenate([
        gen.gen_ingest_file(5, kind, i).column("event_id").to_numpy()
        for kind in ("open", "backlog") for i in range(3)])
    assert len(np.unique(ids)) == len(ids)
