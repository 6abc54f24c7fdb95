"""Generated inputs are a pure function of the seed."""

import copy
import hashlib
import random

import gen


def digest(frames) -> str:
    h = hashlib.sha256()
    for pdf in frames:
        h.update(pdf.to_csv(index=False).encode())
    return h.hexdigest()


def all_inputs(seed: int) -> str:
    store, model = gen.doc_store(seed, 300, 3)
    ops = gen.OpGen(random.Random(f"ops-{seed}"), model, 300)
    stream = [ops.tx(n) for n in gen.quantile_sizes(5)] + [ops.failing_tx(3)]
    corpus, truth = gen.corpus(seed, 400)
    frames = [store, corpus, gen.devices(seed, 20, 10), *gen.tpch_tables(seed, 0.1).values()]
    extra = repr((stream, truth, gen.tpch_params(random.Random(seed)),
                  gen.device_instants(random.Random(seed), 10)))
    return digest(frames) + hashlib.sha256(extra.encode()).hexdigest()


def test_same_seed_same_bytes():
    assert all_inputs(7) == all_inputs(7)


def test_other_seed_other_inputs():
    assert all_inputs(7) != all_inputs(8)


def test_quantile_sizes_span_the_log_uniform_range():
    sizes = gen.quantile_sizes(5)
    assert sizes == sorted(sizes) and sizes[0] >= 1 and sizes[-1] <= 1000


def test_op_mix_is_exact_per_deck():
    _, model = gen.doc_store(1, 200, 3)
    g = gen.OpGen(random.Random(1), model, 200)
    kinds = [g.kind() for _ in range(100)]
    assert {k: kinds.count(k) for k in set(kinds)} == dict(gen.OpGen.MIX)


def test_failing_tx_leaves_model_untouched():
    _, model = gen.doc_store(1, 50, 2)
    g = gen.OpGen(random.Random(1), model, 50)
    before = copy.deepcopy(model)
    ops = g.failing_tx(3)
    assert ops[0][0] == "match" and ops[0][2]["score"] == -1
    assert {e: (t.times, t.docs) for e, t in model.entities.items()} == {
        e: (t.times, t.docs) for e, t in before.entities.items()
    }


def test_planted_clusters_are_near_duplicates():
    corpus, truth = gen.corpus(3, 300)
    texts = dict(zip(corpus["doc_id"], corpus["text"]))
    for cluster in truth["clusters"]:
        root = gen.shingle_set(texts[cluster[0]])
        assert all(gen.jaccard(root, gen.shingle_set(texts[i])) > 0.85 for i in cluster)
    assert all(any(set(e) <= set(c) for c in truth["clusters"]) for e in truth["exact"])
