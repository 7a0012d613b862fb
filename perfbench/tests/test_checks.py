import json
import os

from lakehouse_to_rag_spark.functions.chunker import split_text_recursive
from perfbench import checks, gen


def test_count_chunks_matches_the_recursive_splitter():
    crawl = gen.make_crawl(4, 300)
    texts = [" ".join(r["content"].lower().split()) for r in crawl.base if r["content"]]
    texts += ["a" * 60, "word " * 3, "x y", ""]
    for t in texts:
        assert checks.count_chunks(t) == len(split_text_recursive(t)), t


def _write(tmp_path, records):
    p = os.path.join(tmp_path, "raw.json")
    with open(p, "w") as f:
        f.write("".join(json.dumps(r) + "\n" for r in records))
    return [p]


def test_reference_silver_keeps_first_fetch_and_filters(tmp_path):
    long = "Some #words, here & there; " * 3
    files = _write(tmp_path, [
        {"url": "u1", "doc_id": "0", "content": long},
        {"url": "u1", "doc_id": "1", "content": long + "changed"},
        {"url": "u2", "doc_id": "2", "content": "too short"},
        {"url": "u2", "doc_id": "3", "content": long},
        {"url": "u3", "doc_id": "4", "content": "   "},
        {"url": "u3", "doc_id": "5", "content": long},
        {"url": "u4", "doc_id": "6", "content": None},
    ])
    silver = checks.reference_silver(files)
    # u2's first fetch fails the length filter, so its re-crawl is not
    # used either; u3's blank fetch never reached bronze
    assert sorted(silver) == [0, 5]
    assert silver[0] == "some words, here there; some words, here there; some words, here there;"
    counts = checks.expected_layer_counts(files)
    assert counts == {"bronze": 5, "silver": 2, "gold": 2}
