"""Feature-detect `google.protobuf`, falling back to a pure-Python
runtime already present on the host.

Spark 4's `transformWithState` Python worker speaks a
protobuf state-server protocol (`pyspark/sql/streaming/proto/
StateMessage_pb2.py`); without an importable `google.protobuf` the
query dies at initialization
(STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE).  This sandbox has
no pip-installed protobuf, but ships a pure-Python runtime inside
the system gcloud SDK.  We expose ONLY its `google/protobuf`
subtree through a shim directory (a PEP-420 namespace package with
one symlink), so none of the SDK's other top-level modules can
shadow anything.

Two details make the fallback work end-to-end:

- **Workers, not just the driver.**  Spark's Python workers are
  spawned by the JVM with the PYTHONPATH the JVM inherited at
  launch, so the shim must be exported via ``os.environ`` BEFORE the
  SparkSession is created — `session.get_spark` calls
  :func:`ensure_protobuf` first for exactly this reason.
- **Gencode/runtime minor-version skew.**  pyspark 4.1.2's generated
  `StateMessage_pb2` records gencode 6.33; the bundled runtime is
  6.32.  protobuf's strict check refuses runtime < gencode even one
  minor apart; its own documented escape hatch
  (`runtime_version.py`: ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_
  CHECK``) is set ONLY when we fall back to the bundle, never for a
  properly installed protobuf.

Override the search with ``LH_SPARK_PROTOBUF_PATH`` (a directory
containing ``google/protobuf``).
"""

from __future__ import annotations

import os
import stat
import sys
import tempfile

_BUNDLE_CANDIDATES = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
    "/usr/lib/google-cloud-sdk/lib/third_party",
)

_shim_root_cache: str | None = None


def _shim_root() -> str:
    """Per-user, mode-0700 shim root.

    The shim is imported on the driver and shipped to every worker,
    so its path must not be adoptable by another local user: the
    directory is uid-suffixed, created 0700, and only reused when
    lstat shows we own it, it is a real directory (not a symlink a
    squatter planted), and group/other have no write bit.  Anything
    else falls back to a fresh `mkdtemp` (0700 by construction) for
    this process."""
    global _shim_root_cache
    if _shim_root_cache is not None:
        return _shim_root_cache
    base = os.path.join(os.environ.get("TMPDIR", "/tmp"),
                        f"lh-spark-protobuf-shim-{os.getuid()}")
    try:
        os.mkdir(base, 0o700)
    except FileExistsError:
        st = os.lstat(base)
        if (not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid()
                or st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)):
            base = tempfile.mkdtemp(prefix="lh-spark-protobuf-shim-")
    except OSError:
        base = tempfile.mkdtemp(prefix="lh-spark-protobuf-shim-")
    _shim_root_cache = base
    return base


def _make_shim(bundle_google_dir: str) -> str:
    """Shim dir exposing only ``google/protobuf`` from the bundle."""
    root = _shim_root()
    google_dir = os.path.join(root, "google")
    link = os.path.join(google_dir, "protobuf")
    target = os.path.join(bundle_google_dir, "protobuf")
    os.makedirs(google_dir, exist_ok=True)
    # Only ever import through a symlink WE created pointing at the
    # expected bundle: a pre-existing real dir/file (or a link
    # elsewhere) is replaced, never adopted.
    if os.path.islink(link):
        if os.readlink(link) != target:
            os.unlink(link)
    elif os.path.lexists(link):
        import shutil

        if os.path.isdir(link):
            shutil.rmtree(link)
        else:
            os.unlink(link)
    if not os.path.lexists(link):
        os.symlink(target, link)
    return root


def ship_protobuf(spark) -> None:
    """Make `google.protobuf` importable on executor Python workers of
    an ALREADY-RUNNING session (whose JVM env — hence worker
    PYTHONPATH — is frozen).

    Mirrors `session.ship_package`: zip the resolved runtime and
    `addPyFile` it, which reaches worker `sys.path` regardless of how
    the session was built — the path that matters for the driver's
    own vanilla SparkSession and for any real cluster where protobuf
    is not in the executor image.  The version-check escape hatch
    travels via `sparkContext.environment` (captured into each Python
    function's worker env).  No-ops when nothing needs shipping.
    Idempotent per session."""
    if not ensure_protobuf():
        return
    import google.protobuf as gp

    src = os.path.dirname(gp.__file__)
    if not src.startswith(_shim_root()):
        return  # properly installed runtime — workers have it too
    if os.environ.get("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"):
        spark.sparkContext.environment[
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
    if getattr(spark, "_oojlh_protobuf_shipped", False):
        return
    import pathlib
    import zipfile

    src_dir = pathlib.Path(src).resolve()
    zip_path = pathlib.Path(_shim_root()) / "protobuf_pyfiles.zip"
    # ALWAYS rebuilt from the resolved runtime (never a pre-existing
    # file adopted as-is — it ships to every worker); pid-suffixed
    # temp + atomic replace so concurrent drivers (pytest workers,
    # the round driver) can race the write safely.
    tmp = zip_path.with_suffix(f".{os.getpid()}.tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        # plain package-with-__init__ (not a namespace portion):
        # zipimport handles it uniformly, and no other `google.*`
        # distribution exists where the fallback is in play.
        z.writestr("google/__init__.py", "")
        for p in sorted(src_dir.rglob("*.py")):
            z.write(p, f"google/protobuf/{p.relative_to(src_dir)}")
    tmp.replace(zip_path)
    spark.sparkContext.addPyFile(str(zip_path))
    spark._oojlh_protobuf_shipped = True


def ensure_protobuf() -> bool:
    """Make `google.protobuf` importable (driver AND Spark workers)
    if at all possible; return whether it is."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        pass
    override = os.environ.get("LH_SPARK_PROTOBUF_PATH")
    candidates = ([override] if override else []) + list(_BUNDLE_CANDIDATES)
    for base in candidates:
        if not os.path.isdir(os.path.join(base, "google", "protobuf")):
            continue
        try:
            shim = _make_shim(os.path.join(base, "google"))
        except OSError:
            continue
        # Snapshot process-wide env BEFORE trying this candidate: a
        # failed probe must not leave its dead shim path on the
        # PYTHONPATH the JVM/workers/children inherit, nor the
        # version-check escape hatch set — env changes commit only
        # once the verification import succeeds.
        prev_pythonpath = os.environ.get("PYTHONPATH")
        prev_disable = os.environ.get(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK")
        sys.path.insert(0, shim)
        os.environ["PYTHONPATH"] = (
            shim + os.pathsep + (prev_pythonpath or "")).rstrip(os.pathsep)
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
        sys.modules.pop("google", None)
        try:
            from google.protobuf import descriptor  # noqa: F401

            return True
        except ImportError:
            sys.path.remove(shim)
            if prev_pythonpath is None:
                os.environ.pop("PYTHONPATH", None)
            else:
                os.environ["PYTHONPATH"] = prev_pythonpath
            if prev_disable is None:
                os.environ.pop(
                    "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", None)
            else:
                os.environ[
                    "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"
                ] = prev_disable
            continue
    return False
