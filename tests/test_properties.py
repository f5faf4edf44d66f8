"""Property-based tests (hypothesis) for the pure-function layer:
URL canonicalization, codecs, hashing — the invariants the distributed
stages rely on."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from scrapy_newsutils_spark.functions import images as I
from scrapy_newsutils_spark.functions import urls as U
from scrapy_newsutils_spark.operators import dedup

hosts = st.from_regex(r"[a-z][a-z0-9]{0,10}(\.[a-z][a-z0-9]{0,8}){1,3}",
                      fullmatch=True)
paths = st.from_regex(r"(/[A-Za-z0-9._~-]{0,8}){0,4}/?", fullmatch=True)
queries = st.from_regex(r"([a-z]{1,5}=[A-Za-z0-9]{0,6}&?){0,3}", fullmatch=True)


@given(hosts, paths, queries, st.sampled_from(["http", "https"]))
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent_and_surt_stable(host, path, query, scheme):
    url = f"{scheme}://{host}{path}" + (f"?{query}" if query else "")
    c1 = U.canonicalize_url(url)
    assert U.canonicalize_url(c1) == c1  # idempotent
    s1 = U.surt(url)
    assert U.surt(c1) == s1  # surt is canonicalization-invariant
    if s1:
        assert ")" in s1 and s1 == s1.strip()


@given(hosts, paths)
@settings(max_examples=100, deadline=None)
def test_scheme_and_www_variants_collapse(host, path):
    a = U.surt(f"http://{host}{path}")
    b = U.surt(f"https://{host}{path}")
    assert a == b
    if host.count(".") >= 2:
        assert U.surt(f"https://www.{host}{path}") == b


@given(st.integers(min_value=1, max_value=64), st.integers(min_value=1, max_value=48),
       st.integers(min_value=0, max_value=10_000))
@settings(max_examples=30, deadline=None)
def test_png_roundtrip_any_shape(w, h, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(I.decode_png(I.encode_png(px)), px)


@given(st.integers(min_value=8, max_value=64), st.integers(min_value=8, max_value=48),
       st.integers(min_value=0, max_value=10_000))
@settings(max_examples=30, deadline=None)
def test_lossy_codec_psnr_bound_any_image(w, h, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    rec = I.decode_jpeg(I.encode_jpeg(px))
    assert I.psnr(px, rec) >= 40.0  # the input_hint bound, for ANY input


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1,
                max_size=2000, unique=True))
@settings(max_examples=20, deadline=None)
def test_bloom_never_false_negative(keys):
    arr = np.array(keys, dtype=np.int64)
    bf = dedup.PyBloom(len(arr))
    bf.add_many(arr)
    assert bool(bf.contains_many(arr).all())
