import filecmp
import os

import gen


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_tweets_deterministic_per_seed(tmp_path):
    a = gen.write_tweet_backlog(str(tmp_path / "a"), 7, 200, 4)
    b = gen.write_tweet_backlog(str(tmp_path / "b"), 7, 200, 4)
    c = gen.write_tweet_backlog(str(tmp_path / "c"), 8, 200, 4)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    assert a == b
    # planted properties: every 4th file carries a bad JSON line
    assert [f["quarantine"] >= 1 for f in a["files"]][3]
    assert sum(f["generated"] for f in a["files"]) == 4 * 200 + 1
    assert 0.08 < a["shares"]["label_noise"] < 0.22


def test_warehouse_deterministic_per_seed(tmp_path):
    gen.write_warehouse(str(tmp_path / "a"), 3, 0.001)
    gen.write_warehouse(str(tmp_path / "b"), 3, 0.001)
    rows = gen.write_warehouse(str(tmp_path / "c"), 4, 0.001)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    assert rows["lineitem"] == 6000 and rows["documents"] == 500


def test_door_stream_deterministic_per_seed(tmp_path):
    docs = [(i, " ".join(["spark", "stream", "join", "key"] * (i % 5 + 3))) for i in range(50)]
    vecs = [[float(i % 7), 1.0, 0.5] for i in range(20)]
    a = gen.write_door_stream(str(tmp_path / "a"), 5, docs, vecs, 300, 2)
    b = gen.write_door_stream(str(tmp_path / "b"), 5, docs, vecs, 300, 2)
    gen.write_door_stream(str(tmp_path / "c"), 6, docs, vecs, 300, 2)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    assert a == b
    s = a["shares"]
    assert abs(sum(s.values()) - 1.0) < 1e-9
    assert 0.05 < s["exact_dup"] < 0.15 and 0.02 < s["eval_gram"] < 0.09
    # one evaluation item per planted eval-gram doc, none shared
    n_eval = sum(len(f["eval_gram"]) for f in a["files"])
    assert len(a["eval"]) == n_eval == len({t for _i, t in a["eval"]})


def test_cached_warehouse_is_reused(tmp_path):
    p1 = gen.cached_warehouse(str(tmp_path), 1, 0.001)
    mtime = os.path.getmtime(os.path.join(p1, "lineitem.parquet"))
    p2 = gen.cached_warehouse(str(tmp_path), 1, 0.001)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "lineitem.parquet")) == mtime
