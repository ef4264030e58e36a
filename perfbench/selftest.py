#!/usr/bin/env python3
"""Self-tests of the benchmark's statistics and of the curate generator.

Usage (from the repository root): python3 perfbench/selftest.py
Exits non-zero on the first failed check; scratch files go to
.bench_build/selftest. The generator checks compare with the shipped
fixtures under $GRAFT_TESTDATA (default ~/testdata).
"""
import filecmp
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_curate  # noqa: E402
import stats  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402


def test_median_and_quartiles():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    assert stats.median([]) is None
    q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert (q1, q2, q3) == (2.75, 5.5, 8.25), (q1, q2, q3)
    assert abs(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) - 1.0) < 1e-12


def test_p90_needs_ten_samples_beyond():
    assert stats.percentile(list(range(99)), 0.9) is None
    assert stats.percentile(list(range(1, 101)), 0.9) == 90
    assert stats.beyond(100, 0.9) == 10
    assert stats.beyond(99, 0.9) == 9
    # p50 of 20 samples has ten beyond it, p50 of 19 has nine
    assert stats.percentile(list(range(20)), 0.5) == 9
    assert stats.percentile(list(range(19)), 0.5) is None


def test_failures_count_but_never_time():
    samples = [{"ok": True, "t": 1.0}, {"ok": True, "t": 2.0},
               {"ok": False, "t": 1000.0}, {"ok": True, "t": 3.0}]
    assert stats.failed_frac(samples) == 0.25
    lat = stats.latencies(samples, lambda s: s["t"])
    assert lat == [1.0, 2.0, 3.0]
    assert stats.median(lat) == 2.0


def fixture(sf="sf0.01"):
    return os.path.join(os.environ.get("GRAFT_TESTDATA",
                                       os.path.expanduser("~/testdata")), sf)


def rows_of(d, t):
    return pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows


def test_generator(tmp):
    fx = fixture()
    n_docs, n_vecs = rows_of(fx, "documents"), rows_of(fx, "embeddings")
    a, b, c = (os.path.join(tmp, x) for x in "abc")
    gen_curate.generate(7, a, n_docs, n_vecs)
    gen_curate.generate(7, b, n_docs, n_vecs)
    info = gen_curate.generate(8, c, n_docs, n_vecs)
    for t in ("documents", "embeddings"):
        f = f"{t}.parquet"
        assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                           shallow=False), f"{t}: same seed, different bytes"
        assert not filecmp.cmp(os.path.join(a, f), os.path.join(c, f),
                               shallow=False), f"{t}: seed ignored"
    for sf in ("sf0.01", "sf0.1"):
        d = fixture(sf)
        out = os.path.join(tmp, sf)
        gen_curate.generate(11, out, rows_of(d, "documents"),
                            rows_of(d, "embeddings"))
        check_domains(d, out)
    doc_share, vec_share = gen_curate.near_dup_share(c)
    ref_doc, ref_vec = gen_curate.near_dup_share(fx)
    print(f"near-duplicate share, seed 8: documents {doc_share:.3f} "
          f"(planted {info['planted_doc_dups']}/{n_docs}), vectors "
          f"{vec_share:.3f} (planted {info['planted_vec_dups']}/{n_vecs}); "
          f"shipped fixture: documents {ref_doc:.3f}, vectors {ref_vec:.3f}")
    assert doc_share > ref_doc and vec_share > ref_vec


def check_domains(fx, out):
    for t in ("documents", "embeddings"):
        want = pq.read_table(os.path.join(fx, f"{t}.parquet"))
        got = pq.read_table(os.path.join(out, f"{t}.parquet"))
        assert got.schema.remove_metadata() == \
            want.schema.remove_metadata(), (t, got.schema, want.schema)
        assert got.num_rows == want.num_rows, t
    d = pq.read_table(os.path.join(out, "documents.parquet")).to_pandas()
    w = pq.read_table(os.path.join(fx, "documents.parquet")).to_pandas()
    assert list(d.doc_id) == list(w.doc_id), "doc_id range"
    assert set(d.lang) == set(w.lang) and set(d.source) == set(w.source)
    vocab = {x for t in w.text for x in t.split()}
    assert {x for t in d.text for x in t.split()} <= vocab, "vocabulary"
    assert (d.n_chars == d.text.str.len()).all()
    words = d.text.str.split().str.len()
    ref = w.text.str.split().str.len()
    assert words.min() >= ref.min() and words.max() <= ref.max()
    e = pq.read_table(os.path.join(out, "embeddings.parquet")).to_pandas()
    r = pq.read_table(os.path.join(fx, "embeddings.parquet")).to_pandas()
    assert list(e.vec_id) == list(r.vec_id), "vec_id range"
    assert set(e.label) == set(r.label), "label domain"
    import numpy as np
    m = np.stack(e.embedding.values)
    assert m.shape[1] == np.stack(r.embedding.values).shape[1]
    assert np.allclose(np.linalg.norm(m, axis=1), 1.0, atol=1e-5)


def main():
    test_median_and_quartiles()
    test_p90_needs_ten_samples_beyond()
    test_failures_count_but_never_time()
    tmp = os.path.join(os.getcwd(), ".bench_build", "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        test_generator(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest: all checks passed")


if __name__ == "__main__":
    main()
