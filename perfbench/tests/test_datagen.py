import hashlib

from collections import Counter

from checks import _FOLD, _user_tags
from datagen import STAR_ROWS, star_tables, tweet_records, write_tweets


def _digest(path) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_tweet_file_is_byte_identical_per_seed(tmp_path):
    write_tweets(tweet_records(7), tmp_path / "a.json")
    write_tweets(tweet_records(7), tmp_path / "b.json")
    write_tweets(tweet_records(8), tmp_path / "c.json")
    assert _digest(tmp_path / "a.json") == _digest(tmp_path / "b.json")
    assert _digest(tmp_path / "a.json") != _digest(tmp_path / "c.json")


def test_tweet_corpus_shape():
    records = tweet_records(3)
    n = len(records)
    assert sum(r["retweeted_status"] is not None for r in records) >= 0.3 * n
    assert any(r["text"] is None for r in records)
    assert any(r["hashtagEntitiesArray"] is None for r in records)
    raw = {t for r in records for t in r["hashtagEntitiesArray"] or []}
    assert {"Café", "CAFE", "café"} <= raw  # spellings of one tag
    tags = _user_tags(records)
    folded = {t for ts in tags.values() for t in ts}
    assert "cafe" in folded and not {"café", "CAFE"} & folded
    # the hub is the most used tag, on a bounded share of the users
    uses = Counter(t.lower().translate(_FOLD) for r in records for t in r["hashtagEntitiesArray"] or [])
    assert uses.most_common(1)[0][0] == "cafe"
    assert 0.1 < sum("cafe" in ts for ts in tags.values()) / len(tags) <= 0.2


def test_star_tables_are_deterministic():
    a, b = star_tables(42), star_tables(42)
    assert sorted(a) == sorted(
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    )
    assert all(a[name].equals(b[name]) for name in a)
    assert not star_tables(43)["lineitem"].equals(a["lineitem"])


def test_star_tables_follow_the_scale_factor():
    for sf in STAR_ROWS:
        tables = star_tables(1, sf)
        for name in ("lineitem", "documents", "embeddings"):
            assert tables[name].num_rows == STAR_ROWS[sf][name]
