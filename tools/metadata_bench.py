"""Head-resolution micro-benchmark: hint path vs full-listing fallback.

Synthesizes an N-commit manifest chain through the TableStorage verbs
(no Spark — this measures the metadata plane only, which is the point:
``current_version()`` is the one lookup every table verb pays) and times

* the HINT path (LIST a ≤4-object dir + one probe GET), and
* the FALLBACK path (LIST the whole manifest directory),

on both storage backends.  On a real object store the gap is the page
count — N/1000 ListObjectsV2 round trips vs 1 — which a local POSIX walk
underStates; the wall-clock ratio printed here is therefore a LOWER
bound on the cluster win.

Usage: python tools/metadata_bench.py [n_commits] [reps]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA  # noqa: E402
from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable  # noqa: E402
from event_driven_etl_msc_research_spark.sinks.storage import (  # noqa: E402
    FakeObjectStorage,
    LocalFSStorage,
)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    out: dict[str, dict] = {}
    for backend, cls in (("posix", LocalFSStorage), ("object", FakeObjectStorage)):
        root = tempfile.mkdtemp(prefix=f"headbench_{backend}_")
        try:
            t = ManifestTable.create(
                None, root, TRANSCRIPT_SCHEMA, n_buckets=4, storage=cls(root)
            )
            m0 = dict(t.manifest())
            for v in range(1, n):
                m0["version"], m0["parent"] = v, v - 1
                t.storage.put_if_absent(
                    t._manifest_key(v), t._encode_manifest(m0)
                )
            t._write_head_hint(n - 1)

            def timed(f):
                t0 = time.perf_counter()
                for _ in range(reps):
                    got = f()
                assert got == n - 1, got
                return (time.perf_counter() - t0) / reps * 1000.0

            hint_ms = timed(
                lambda: ManifestTable(None, root, storage=cls(root)).current_version()
            )
            for o in t.storage.list("_manifest/head"):
                t.storage.delete(o.key)
            fallback_ms = timed(
                lambda: ManifestTable(None, root, storage=cls(root)).current_version()
            )
            out[backend] = {
                "hint_ms": round(hint_ms, 3),
                "full_list_ms": round(fallback_ms, 3),
                "speedup": round(fallback_ms / max(hint_ms, 1e-9), 1),
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)
            # drop the fake registry for this root so reruns start clean
            from event_driven_etl_msc_research_spark.sinks import storage as _st

            _st._FAKE_REGISTRIES.pop(os.path.abspath(root), None)
    print(
        json.dumps(
            {
                "metric": "head_resolution_ms",
                "n_commits": n,
                "reps": reps,
                "backends": out,
            }
        )
    )


if __name__ == "__main__":
    main()
