"""``shard_server.PinCache``, the one LRU cache of pinned state: LRU
order, both policies for an entry larger than the budget, stale
tokens, and the running byte total."""

from __future__ import annotations

import random

from pdf_etl_ocr_inference_spark.operators.shard_server import MISS, PinCache


def _total_is_sum(c: PinCache) -> bool:
    return c.nbytes == sum(e[2] for e in c.entries.values())


def test_lru_order():
    c = PinCache(3)
    for key in "abc":
        c.put(key, None, key.upper(), 1)
    assert c.get("a") == "A"  # a is now the warmest
    c.put("d", None, "D", 1)  # evicts b, the coldest
    assert list(c.entries) == ["c", "a", "d"]
    assert c.get("b") is MISS
    assert _total_is_sum(c) and c.nbytes == 3


def test_none_is_a_hit():
    c = PinCache(10)
    c.put("empty", "t", None, 1)
    assert c.get("empty", "t") is None


def test_oversized_entry_is_served_once_and_evicts_nothing():
    c = PinCache(10)
    c.put("a", None, "A", 4)
    c.put("b", None, "B", 4)
    c.put("big", None, "BIG", 11)
    assert list(c.entries) == ["a", "b"]
    assert c.get("big") is MISS
    assert _total_is_sum(c) and c.nbytes == 8


def test_oversized_entry_kept_alone():
    c = PinCache(10, keep_oversized=True)
    c.put("a", None, "A", 4)
    c.put("b", None, "B", 4)
    c.put("big", None, "BIG", 11)
    assert list(c.entries) == ["big"]
    assert c.get("big") == "BIG"
    assert _total_is_sum(c) and c.nbytes == 11
    c.put("a", None, "A", 4)  # the next insert evicts it again
    assert list(c.entries) == ["a"]


def test_stale_token_frees_bytes():
    c = PinCache(100)
    c.put("a", "v1", "old", 30)
    c.put("b", "v1", "other", 5)
    assert c.get("a", "v2") is MISS
    assert "a" not in c.entries
    assert c.nbytes == 5
    assert c.get("b", "v1") == "other"


def test_total_equals_sum_after_every_call():
    rng = random.Random(5)
    for keep in (False, True):
        c = PinCache(50, keep_oversized=keep)
        for _ in range(2000):
            key, token = rng.randrange(12), rng.randrange(3)
            op = rng.random()
            if op < 0.5:
                c.put(key, token, key, rng.randrange(0, 60))
            elif op < 0.9:
                c.get(key, token)
            elif op < 0.97:
                c.pop(key)
            else:
                c.clear()
            assert _total_is_sum(c)
            assert c.nbytes <= c.budget or len(c.entries) == 1


def test_threads_keep_the_byte_total_exact():
    """8 threads get, put and pop overlapping keys of one small cache
    (a client-thread pattern of the driver's shard pin): no call
    raises, and the byte total stays the sum of the entries and within
    the budget.  Without the cache's lock, updates to the total are
    lost."""
    import sys
    import threading

    c = PinCache(20)
    errors = []

    def client(t):
        try:
            for i in range(20000):
                key = (7 * t + i) % 13
                if c.get(key, "a") is MISS:
                    c.put(key, "a", key, 1 + key % 4)
                if i % 5 == 0:
                    c.pop((key + 3) % 13)
                if i % 1000 == 999:
                    c.get(key, "b")  # a stale token drops the entry
        except Exception as e:  # reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert _total_is_sum(c) and c.nbytes <= c.budget
