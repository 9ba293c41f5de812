from __future__ import annotations

import os
import sys
import threading
from contextlib import contextmanager

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_T2 = os.environ.get("SPARK_GRAFT_T2_DIR", "/root/testdata/sf0.01")

# The transformWithStateInPandas protocol speaks protobuf between the JVM
# state server and the Python worker; protobuf isn't a baked-in dependency
# of this repo, but the (public) Google Cloud SDK bundles a full
# google.protobuf runtime. Best-effort: if protobuf isn't importable and
# the SDK copy exists, append it to sys.path AND PYTHONPATH (appended, so
# any installed package always wins; PYTHONPATH so the Spark-spawned
# Python workers inherit it too — the tws processor runs there, not on
# the driver). If neither source exists the tws test importorskips as
# before.
_SDK_PB = "/usr/lib/google-cloud-sdk/platform/google_appengine"


def _ensure_protobuf() -> None:
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    if os.path.isdir(os.path.join(_SDK_PB, "google", "protobuf")):
        sys.path.append(_SDK_PB)
        os.environ["PYTHONPATH"] = (
            os.environ["PYTHONPATH"] + os.pathsep + _SDK_PB
            if os.environ.get("PYTHONPATH")
            else _SDK_PB
        )
        # the SDK runtime may trail pyspark's gencode by one minor
        # version (e.g. 6.32 runtime vs 6.33 gencode); the wire format is
        # unchanged across minors, and protobuf ships this documented
        # escape hatch for exactly that gap — set it only on this
        # fallback path, before the JVM (and thus the Python workers)
        # inherit the environment
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
        )


_ensure_protobuf()


@pytest.fixture(scope="session")
def spark():
    from dumpty_spark.session import get_session

    s = get_session("dumpty-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_t2() -> str:
    return SF_T2


@pytest.fixture
def round_trips(monkeypatch):
    """A context manager that records the py4j commands the calling
    thread sends to the JVM while it is open, each one a socket round
    trip. py4j's release of collected Java objects (``m d``), which runs
    wherever Python's GC happens to run, is not recorded."""
    import py4j.clientserver

    @contextmanager
    def recording():
        sent: list[str] = []
        me = threading.current_thread()
        send = py4j.clientserver.ClientServerConnection.send_command

        def counted(self, command):
            if threading.current_thread() is me and not command.startswith("m\nd\n"):
                sent.append(command)
            return send(self, command)

        monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
        yield sent
        monkeypatch.undo()

    return recording
