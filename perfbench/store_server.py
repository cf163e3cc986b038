"""The engine's ``LocalObjectStore``, run in a process of its own.

The benchmark talks to it over stdin/stdout, one JSON object per line:

- ``{"op": "reset", "faults": {key: [status, ...]}}`` drops every stored
  object and counter, then arms the fault schedule;
- ``{"op": "stats"}`` answers with the md5 of every stored object, the
  PUT requests per key, and this process's CPU seconds so far;
- ``{"op": "quit"}`` stops the server and exits.

It prints ``{"endpoint": "127.0.0.1:<port>"}`` once it is listening.
"""

from __future__ import annotations

import hashlib
import json
import os
import resource
import sys


def main() -> None:
    sys.path.insert(0, os.getcwd())
    from tile_etl_spark.tiles.http_store import LocalObjectStore

    store = LocalObjectStore().start()
    print(json.dumps({"endpoint": store.endpoint}), flush=True)
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            # commands arrive between ops, when no PUT is in flight
            if cmd["op"] == "reset":
                store.objects.clear()
                store.attempts.clear()
                store.stores.clear()
                store.faults = {k: list(v) for k, v in cmd["faults"].items()}
                reply = {"ok": True}
            elif cmd["op"] == "stats":
                objects = {
                    k: hashlib.md5(body).hexdigest()
                    for k, (body, _meta) in store.objects.items()
                }
                ru = resource.getrusage(resource.RUSAGE_SELF)
                reply = {
                    "objects": objects,
                    "attempts": store.attempts,
                    "cpu_s": ru.ru_utime + ru.ru_stime,
                }
            elif cmd["op"] == "quit":
                break
            else:
                reply = {"error": f"unknown op {cmd['op']!r}"}
            print(json.dumps(reply), flush=True)
    finally:
        store.stop()


if __name__ == "__main__":
    main()
