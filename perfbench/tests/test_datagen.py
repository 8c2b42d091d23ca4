import pyarrow.parquet as pq

from perfbench import datagen

#: datagen.profile of the sf0.1 ``documents`` test table (5,000
#: docs); its LSH candidate set (the x_minhash_lsh_pairs oracle) holds
#: 662 pairs, the generated corpus's 678
SF01 = {
    "docs": 5000,
    "words_min": 10,
    "words_max": 100,
    "words_p50": 54.0,
    "vocab": 31,
    "near_dups": 250,
    "exact_dup_pairs": 8,
    "en_share": 0.4118,
}


def test_corpus_reproduces_the_measured_sf01_documents():
    got = datagen.profile(datagen.corpus(5000))
    for key in ("docs", "words_min", "words_max", "vocab", "near_dups"):
        assert got[key] == SF01[key], key
    assert abs(got["words_p50"] - SF01["words_p50"]) <= 3
    # same-base near duplicates: ~250^2 / (2 * 5000) ~ 6 expected
    assert 3 <= got["exact_dup_pairs"] <= 14
    assert abs(got["en_share"] - SF01["en_share"]) < 0.03


def test_corpus_shape_and_seeded_permutation(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_corpus_dir(str(a), 500, seed=1)
    datagen.write_corpus_dir(str(b), 500, seed=2)
    ta = pq.read_table(a / "documents.parquet")
    tb = pq.read_table(b / "documents.parquet")
    assert ta.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    # another seed reorders the rows, never changes them
    assert ta.column("doc_id").to_pylist() != tb.column("doc_id").to_pylist()
    assert ta.sort_by("doc_id").equals(tb.sort_by("doc_id"))
    rows = ta.to_pylist()
    assert all(r["source"] == f"src{r['doc_id'] % 20}" for r in rows)
    assert all(r["n_chars"] == len(r["text"]) for r in rows)
