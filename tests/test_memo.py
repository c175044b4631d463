"""BoundedMemo (r11): LRU semantics of the compile-latency memos."""

from sdm_rdfizer_spark._memo import BoundedMemo


def test_bounded_memo_evicts_oldest():
    m = BoundedMemo(3)
    m["a"], m["b"], m["c"] = 1, 2, 3
    m["d"] = 4
    assert "a" not in m and len(m) == 3
    assert m.get("b") == 2 and m.get("d") == 4


def test_bounded_memo_hit_refreshes_recency():
    m = BoundedMemo(3)
    m["a"], m["b"], m["c"] = 1, 2, 3
    assert m.get("a") == 1          # refresh: "b" is now oldest
    m["d"] = 4
    assert "b" not in m
    assert m.get("a") == 1 and m.get("c") == 3 and m.get("d") == 4


def test_bounded_memo_overwrite_keeps_size():
    m = BoundedMemo(2)
    m["a"] = 1
    m["a"] = 5
    m["b"] = 2
    assert len(m) == 2 and m.get("a") == 5
    assert m.get("missing", "dflt") == "dflt"


def test_bounded_memo_subscript_refreshes_recency():
    m = BoundedMemo(3)
    m["a"], m["b"], m["c"] = 1, 2, 3
    assert m["a"] == 1              # refresh via []: "b" is now oldest
    m["d"] = 4
    assert "b" not in m and "a" in m


def test_probe_cache_is_bounded():
    from sdm_rdfizer_spark.compiler import plan

    cache = plan._PROBE_CACHE
    assert isinstance(cache, BoundedMemo)
    saved = dict(cache)
    try:
        for i in range(cache._maxsize + 10):
            cache[("test", i)] = True
        assert len(cache) == cache._maxsize
        assert ("test", 0) not in cache
    finally:
        cache.clear()
        cache.update(saved)


def test_bounded_memo_concurrent_use_keeps_bound_and_values():
    """The memos are shared by the compile thread pool: racing hits,
    inserts and evictions must neither raise nor return a wrong value,
    and the size bound must hold."""
    import sys
    import threading

    m = BoundedMemo(8)
    errors = []

    def work(seed):
        try:
            for i in range(3000):
                k = (seed * 7 + i) % 20
                v = m.get(k)
                if v is None:
                    m[k] = k * k
                elif v != k * k:
                    errors.append((k, v))
                try:
                    if m[k] != k * k:
                        errors.append((k, "subscript"))
                except KeyError:
                    pass          # evicted by another thread meanwhile
        except Exception as e:    # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(s,)) for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:5]
    assert len(m) <= 8
