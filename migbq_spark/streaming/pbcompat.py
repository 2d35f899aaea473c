"""Best-effort `google.protobuf` bootstrap for the transformWithState
transport.

pyspark 4.1.2's `transformWithStateInPandas` Python worker speaks to the
JVM state server with protobuf messages
(`pyspark/sql/streaming/proto/StateMessage_pb2.py`, gencode 6.33.0).
This container has no `google.protobuf` on sys.path and no network for
pip — but the google-cloud-sdk installed at /usr/lib/google-cloud-sdk
vendors a full pure-Python protobuf 6.32.0 under its appengine platform
tree.  Two gaps separate that copy from a working transport:

1. It isn't on sys.path → appended here (APPENDED, never prepended, so a
   real `pip install protobuf` always wins).
2. protobuf's `ValidateProtobufRuntimeVersion` hard-rejects gencode
   6.33.0 on runtime 6.32.0 (runtime may not be OLDER than gencode, even
   across a patch/minor step).  Within a major version the descriptor
   wire format and generated-code API are stable — the 6.33 gencode uses
   nothing 6.32 lacks (verified: StateMessage_pb2 builds all 47 message
   types and round-trips messages under 6.32) — so the validator is
   wrapped to tolerate a same-major, newer-minor gencode.  Any other
   mismatch (different major, runtime too new per Domain rules) still
   raises.

Import-time side effects are deliberate: this module is imported at the
top of `migbq_spark.streaming.structured`, which is shipped to workers
via addPyFile (`session._ship_package`), so unpickling any of our UDFs
installs the shim in the worker BEFORE `StatefulProcessorApiClient`'s
lazy `import ...StateMessage_pb2` runs (worker.py unpickles the UDF
first; the pb2 imports live inside client methods).
"""

from __future__ import annotations

import sys

_APPENGINE_PROTOBUF = "/usr/lib/google-cloud-sdk/platform/google_appengine"


def _pb_real() -> bool:
    """True iff a REAL protobuf runtime imports.  `import google.protobuf`
    alone is not a valid probe: Spark jars on a worker's sys.path carry
    `google/protobuf/*.proto` RESOURCE entries, which zipimport happily
    serves as an empty PEP-420 namespace package (observed in the
    transformWithState driver-side runner, whose sys.path includes
    spark-core_*.jar) — so probe for the `descriptor` module instead."""
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def ensure_protobuf() -> bool:
    """Make `google.protobuf` importable and tolerant of same-major
    newer-minor gencode; return True iff Spark's StateMessage_pb2 loads."""
    if not _pb_real():
        # Purge the fake namespace portions so the re-import resolves the
        # appengine copy as a REGULAR package (regular packages beat
        # namespace portions regardless of sys.path order, so appending
        # is enough — and a real `pip install protobuf` still wins).
        # Scope: only `google` / `google.protobuf*` entries that are
        # themselves namespace portions (no __file__).  An unrelated
        # already-imported google.* REGULAR package (google.auth,
        # google.cloud) is left alone — evicting a live module orphans
        # its object and a later re-import would create a duplicate,
        # inconsistent copy.
        for m in [
            m
            for m in sys.modules
            if (
                m == "google"
                or m == "google.protobuf"
                or m.startswith("google.protobuf.")
            )
            and getattr(sys.modules[m], "__file__", None) is None
        ]:
            del sys.modules[m]
        if _APPENGINE_PROTOBUF not in sys.path:
            sys.path.append(_APPENGINE_PROTOBUF)
        if not _pb_real():
            return False
    try:
        from google.protobuf import runtime_version as rv

        if not getattr(rv.ValidateProtobufRuntimeVersion, "_migbq_tolerant", False):
            _orig = rv.ValidateProtobufRuntimeVersion

            def _tolerant(domain, major, minor, patch, suffix, location):
                try:
                    _orig(domain, major, minor, patch, suffix, location)
                except rv.VersionError:
                    # stable within a major version: allow newer-minor
                    # gencode on this runtime, nothing else
                    if major != rv.MAJOR or minor < rv.MINOR:
                        raise

            _tolerant._migbq_tolerant = True  # type: ignore[attr-defined]
            rv.ValidateProtobufRuntimeVersion = _tolerant
    except ImportError:
        # very old runtimes predate runtime_version (no validation at all)
        pass
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401
    except Exception:
        return False
    return True


#: Evaluated once at import (driver AND worker side — see module
#: docstring for why import-time matters).
PROTOBUF_OK: bool = ensure_protobuf()
