"""End-to-end tests for the HTTP object-store PUT path (VERDICT r4
missing #1: client batching / retries / throttling were untested
against the local-FS fake). Executors PUT over real TCP to an
in-process threaded HTTP server with scripted faults."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tile_etl_spark.tiles.http_store import (
    HttpPutClient,
    LocalObjectStore,
    ObjectStoreError,
    objectstore_sink_http,
)


@pytest.fixture()
def store():
    s = LocalObjectStore().start()
    yield s
    s.stop()


def _tiles_df(spark, n=40):
    return spark.range(n).select(
        F.concat_ws(
            "/", F.lit("Lite"), F.lit(5), F.col("id"), F.col("id") * 2
        ).alias("object_key"),
        F.concat(F.lit("tile-"), F.col("id").cast("string"))
        .cast("binary")
        .alias("content"),
    )


def test_put_roundtrip_headers_and_bytes(store):
    c = HttpPutClient(store.endpoint)
    assert c.put("a/b/c", b"payload", "image/jpg", "public-read") == 1
    body, meta = store.objects["a/b/c"]
    assert body == b"payload"
    assert meta["content-type"] == "image/jpg"
    assert meta["x-amz-acl"] == "public-read"
    c.close()


def test_store_accepts_a_burst_of_concurrent_clients(store):
    """32 keep-alive clients connecting at once, 3 PUTs each: the
    store's listen backlog holds every connection, so no request is
    reset and retried (the default backlog of 5 reset several per
    burst, and each retry is an extra PUT in the attempt audit)."""
    import threading

    n_clients, n_puts = 32, 3
    gate = threading.Barrier(n_clients)
    errors: list[str] = []

    def client(i: int) -> None:
        c = HttpPutClient(store.endpoint)
        try:
            gate.wait()
            for j in range(n_puts):
                attempts = c.put(f"burst/{i}/{j}", b"x" * 1024)
                if attempts != 1:
                    errors.append(f"burst/{i}/{j}: {attempts} attempts")
        except Exception as ex:  # any failure fails the burst
            errors.append(f"client {i}: {type(ex).__name__}: {ex}")
        finally:
            c.close()

    threads = [
        threading.Thread(target=client, args=(i,)) for i in range(n_clients)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert errors == []
    assert len(store.attempts) == n_clients * n_puts
    assert set(store.attempts.values()) == {1}


def test_client_retries_transient_503_then_succeeds(store):
    store.faults["k1"] = [503, 503]
    c = HttpPutClient(store.endpoint, max_attempts=4)
    assert c.put("k1", b"x") == 3  # two 503s, third attempt lands
    assert store.attempts["k1"] == 3
    assert store.objects["k1"][0] == b"x"
    c.close()


def test_client_honors_throttle_retry_after(store):
    store.faults["hot"] = [429]
    c = HttpPutClient(store.endpoint, max_attempts=3)
    assert c.put("hot", b"y") == 2
    assert store.objects["hot"][0] == b"y"
    c.close()


def test_client_gives_up_after_budget(store):
    store.faults["dead"] = [503] * 10
    c = HttpPutClient(store.endpoint, max_attempts=3, backoff_base_s=0.001)
    with pytest.raises(ObjectStoreError, match="retries exhausted"):
        c.put("dead", b"z")
    assert store.attempts["dead"] == 3  # budget respected, not 10
    c.close()


def test_client_does_not_retry_permanent_4xx(store):
    store.faults["forbidden"] = [403]
    c = HttpPutClient(store.endpoint, max_attempts=5)
    with pytest.raises(ObjectStoreError, match="non-retryable"):
        c.put("forbidden", b"q")
    assert store.attempts["forbidden"] == 1
    c.close()


def test_connection_reuse_across_partition_puts(store):
    """Keep-alive batching: many PUTs on one client reuse the socket."""
    c = HttpPutClient(store.endpoint)
    for i in range(25):
        assert c.put(f"bulk/{i}", b"d" * 64) == 1
    assert len(store.objects) == 25
    c.close()


def test_sink_end_to_end_with_faults(spark, store):
    """The Spark stage: executors PUT over TCP; scripted transient and
    permanent faults become retried-ok and dead-letter rows."""
    df = _tiles_df(spark, 40).repartition(4)
    keys = [r["object_key"] for r in df.select("object_key").collect()]
    transient, permanent = keys[0], keys[1]
    store.faults[transient] = [503]
    store.faults[permanent] = [503] * 99

    out = objectstore_sink_http(
        df, store.endpoint, max_attempts=3, backoff_base_s=0.001
    ).collect()
    by_key = {r["object_key"]: r for r in out}
    assert len(out) == 40
    assert by_key[transient]["status"] == "ok"
    assert by_key[transient]["attempts"] == 2
    assert by_key[permanent]["status"] == "err"
    assert "retries exhausted" in by_key[permanent]["error"]
    ok = [r for r in out if r["status"] == "ok"]
    assert len(ok) == 39
    assert all(r["attempts"] == 1 for r in ok if r["object_key"] != transient)
    # every ok object landed with the right bytes
    for r in ok:
        body, meta = store.objects[r["object_key"]]
        suffix = r["object_key"].split("/")[2]
        assert body == f"tile-{suffix}".encode()
        assert meta["content-type"] == "image/jpg"
