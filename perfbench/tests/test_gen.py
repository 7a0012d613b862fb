import os
import pathlib

from perfbench import gen


def _files(tmp_path, seed, sub):
    crawl = gen.make_crawl(seed, 300, n_batches=2, batch_docs=50, n_queries=4)
    paths = gen.write_split(crawl.base, os.path.join(tmp_path, sub, "base"), 3)
    for i, b in enumerate(crawl.batches):
        paths.append(os.path.join(tmp_path, sub, f"batch-{i}.json"))
        gen.write_jsonl(b, paths[-1])
    return [pathlib.Path(p).read_bytes() for p in paths]


def test_same_seed_gives_identical_bytes(tmp_path):
    assert _files(tmp_path, 7, "a") == _files(tmp_path, 7, "b")


def test_other_seed_gives_other_bytes(tmp_path):
    a, b = _files(tmp_path, 7, "a"), _files(tmp_path, 8, "b")
    assert len(a) == len(b)
    assert all(x != y for x, y in zip(a, b))


def test_batches_do_not_shift_the_base_corpus():
    assert gen.make_crawl(3, 200).base == gen.make_crawl(3, 200, n_batches=3, batch_docs=20).base


def test_crawl_shape():
    crawl = gen.make_crawl(5, 2000, n_batches=1, batch_docs=500, n_queries=6)
    base, batch = crawl.base, crawl.batches[0]
    ids = [int(r["doc_id"]) for r in base + batch]
    assert ids == list(range(len(ids)))
    assert set(base[0]) == {"url", "scraped_at", "status_code", "title", "content",
                            "author", "language", "doc_id"}
    # about 10 % of the base re-crawls a url it has already fetched
    recrawls = len(base) - len({r["url"] for r in base})
    assert 0.06 * len(base) < recrawls < 0.14 * len(base)
    # about 20 % of a batch re-crawls urls that returned content before
    # (never twice in one batch), so admission must reject them
    live = {r["url"] for r in base if r["content"] and r["content"].strip()}
    again = [r for r in batch if r["url"] in live]
    assert 0.14 * len(batch) < len(again) < 0.26 * len(batch)
    assert len({r["url"] for r in batch}) == len(batch)
    # long-tailed lengths: the longest document dwarfs the median
    lengths = sorted(len(r["content"]) for r in base if r["content"])
    assert lengths[-1] > 5 * lengths[len(lengths) // 2]
    # failed fetches carry no usable content
    assert any(r["content"] is None or not r["content"].strip() for r in base)
    assert crawl.query_ids == [int(r["doc_id"]) for r in base[-6:]]


def test_vocabulary_is_zipf_skewed():
    crawl = gen.make_crawl(9, 500)
    vocab = gen.vocabulary(9, gen.CorpusSpec().vocab_size)
    words = [w.strip(".,?").lower() for r in crawl.base if r["content"]
             for w in r["content"].split()]
    top = sum(1 for w in words if w in set(vocab[:60]))
    assert top > 0.4 * len(words)
