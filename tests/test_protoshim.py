"""The vendored pure-Python protobuf runtime (conceptnetwork_spark/vendor/)
must speak the EXACT public wire format — the other side of the socket is
the JVM state server, which runs the real protobuf. Golden byte vectors
here are hand-computed from the public encoding spec (tag = num<<3|wt,
varints LSB-first with continuation bit, length-delimited submessages);
the end-to-end proof is d25_first_seen_tws's oracle test, which drives
transformWithStateInPandas through the real JVM server."""

import pytest

from conceptnetwork_spark.protoshim import ensure_protobuf

pytestmark = pytest.mark.skipif(
    not ensure_protobuf(), reason="no protobuf runtime available"
)


def _sm():
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    return sm


def test_golden_bytes_nested_oneof():
    sm = _sm()
    req = sm.StateRequest(
        version=2,
        stateVariableRequest=sm.StateVariableRequest(
            valueStateCall=sm.ValueStateCall(stateName="firstSeen", get=sm.Get())
        ),
    )
    # field 1 varint 2 = 08 02; field 3 LEN: StateVariableRequest
    #   field 1 LEN: ValueStateCall
    #     field 1 LEN 9 "firstSeen" = 0a 09 ...; field 3 LEN 0 (Get) = 1a 00
    assert req.SerializeToString() == bytes.fromhex(
        "08021a0f0a0d0a0966697273745365656e1a00"
    )


def test_golden_bytes_enum_and_int64():
    sm = _sm()
    assert sm.SetHandleState(state=sm.DATA_PROCESSED).SerializeToString() == b"\x08\x03"
    # int64 300 -> varint ac 02 under field 1
    assert sm.RegisterTimer(expiryTimestampMs=300).SerializeToString() == b"\x08\xac\x02"


def test_negative_int32_is_ten_byte_varint():
    sm = _sm()
    data = sm.StateResponse(statusCode=-1).SerializeToString()
    # two's-complement 64-bit: 08 ff ff ff ff ff ff ff ff ff 01
    assert data == b"\x08" + b"\xff" * 9 + b"\x01"
    back = sm.StateResponse()
    back.ParseFromString(data)
    assert back.statusCode == -1


def test_roundtrip_repeated_message_and_bool():
    sm = _sm()
    resp = sm.StateResponseWithTimer(
        statusCode=0,
        timer=[
            sm.TimerInfo(key=b"k1", timestampMs=123),
            sm.TimerInfo(timestampMs=456),
        ],
        requireNextFetch=True,
    )
    back = sm.StateResponseWithTimer()
    back.ParseFromString(resp.SerializeToString())
    assert [(t.key, t.timestampMs) for t in back.timer] == [(b"k1", 123), (b"", 456)]
    assert back.requireNextFetch is True


def test_roundtrip_repeated_bytes_and_defaults():
    sm = _sm()
    lg = sm.StateResponseWithListGet(statusCode=2, value=[b"a", b"bb"])
    back = sm.StateResponseWithListGet()
    back.ParseFromString(lg.SerializeToString())
    assert back.value == [b"a", b"bb"]
    assert back.requireNextFetch is False  # unset -> proto3 default
    assert back.errorMessage == ""


def test_unknown_fields_skipped():
    sm = _sm()
    # KeyAndValuePair bytes parsed as Get (no fields) must not crash
    data = sm.KeyAndValuePair(key=b"x", value=b"y").SerializeToString()
    g = sm.Get()
    g.ParseFromString(data)
    assert g.SerializeToString() == b""


def test_which_oneof_and_has_field():
    sm = _sm()
    req = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=sm.CLOSED)
        )
    )
    assert req.WhichOneof("method") == "statefulProcessorCall"
    assert req.HasField("statefulProcessorCall")
    assert not req.HasField("timerRequest")
    assert sm.StateRequest().WhichOneof("method") is None


def test_oneof_empty_submessage_presence_survives():
    sm = _sm()
    # Exists() carries no fields; the oneof arm must still be encoded as a
    # zero-length submessage so the JVM sees WHICH method was called
    call = sm.ValueStateCall(stateName="s", exists=sm.Exists())
    back = sm.ValueStateCall()
    back.ParseFromString(call.SerializeToString())
    assert back.WhichOneof("method") == "exists"


def test_shim_defers_to_real_protobuf_when_present():
    import os
    import sys

    import google.protobuf as gp

    from conceptnetwork_spark import protoshim

    # whichever runtime is active, a second ensure is a no-op that keeps it
    assert protoshim.ensure_protobuf()
    if protoshim._VENDOR_DIR in gp.__file__:
        # shim active (real package absent here). Pin the precedence
        # contract: the vendor dir is APPENDED, never prepended — a
        # PYTHONPATH prepend would shadow a real protobuf shipped only in
        # worker/executor site-packages (PYTHONPATH precedes site-packages)
        pp = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        assert pp and pp[-1] == protoshim._VENDOR_DIR
        assert pp.index(protoshim._VENDOR_DIR) == len(pp) - 1
        assert sys.path.index(protoshim._VENDOR_DIR) > 0
    else:
        # real runtime present: the shim must not have displaced it
        assert protoshim._VENDOR_DIR not in gp.__file__


def test_twsp_registered_in_this_environment():
    from conceptnetwork_spark import registry
    from conceptnetwork_spark.streaming import stateful

    assert stateful.TWSP_AVAILABLE
    assert "d25_first_seen_tws" in registry.queries()
    assert "d25_first_seen_tws" in registry.oracles()


def test_property_roundtrip_random_messages():
    """Property: for randomized field assignments over the real generated
    message types (nested oneofs, repeated bytes/messages, int64 extremes,
    unicode strings), ParseFromString(SerializeToString()) reproduces the
    message exactly."""
    from hypothesis import given, settings, strategies as st

    sm = _sm()

    small = st.integers(min_value=-(2**31), max_value=2**31 - 1)
    big = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    blob = st.binary(max_size=64)
    text = st.text(max_size=32)

    @settings(max_examples=200, deadline=None)
    @given(
        status=small,
        err=text,
        values=st.lists(blob, max_size=5),
        rnf=st.booleans(),
        timers=st.lists(st.tuples(blob, big), max_size=4),
        name=text,
        dur=big,
    )
    def check(status, err, values, rnf, timers, name, dur):
        lg = sm.StateResponseWithListGet(
            statusCode=status, errorMessage=err, value=values, requireNextFetch=rnf
        )
        back = sm.StateResponseWithListGet()
        back.ParseFromString(lg.SerializeToString())
        assert back.statusCode == status
        assert back.errorMessage == err
        assert back.value == list(values)
        assert back.requireNextFetch is rnf

        tr = sm.StateResponseWithTimer(
            statusCode=status,
            timer=[sm.TimerInfo(key=k, timestampMs=t) for k, t in timers],
        )
        tb = sm.StateResponseWithTimer()
        tb.ParseFromString(tr.SerializeToString())
        assert [(t.key, t.timestampMs) for t in tb.timer] == [
            (k, t) for k, t in timers
        ]

        req = sm.StateRequest(
            version=status,
            statefulProcessorCall=sm.StatefulProcessorCall(
                getValueState=sm.StateCallCommand(
                    stateName=name, schema=err, ttl=sm.TTLConfig(durationMs=dur)
                )
            ),
        )
        rb = sm.StateRequest()
        rb.ParseFromString(req.SerializeToString())
        assert rb == req
        assert rb.statefulProcessorCall.getValueState.stateName == name
        assert rb.statefulProcessorCall.getValueState.ttl.durationMs == dur
        assert rb.WhichOneof("method") == "statefulProcessorCall"

    check()


def test_shim_zip_tracks_vendor_contents(tmp_path, monkeypatch):
    """The shipped zip is named by its contents: editing a vendored file
    yields a new zip, so a zip left by an older checkout is never reused."""
    import os
    import shutil
    import tempfile
    import zipfile

    from conceptnetwork_spark import protoshim

    vendor = tmp_path / "vendor"
    shutil.copytree(os.path.join(protoshim._VENDOR_DIR, "google"), vendor / "google")
    monkeypatch.setattr(protoshim, "_VENDOR_DIR", str(vendor))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def contents(zpath):
        with zipfile.ZipFile(zpath) as z:
            return {n: z.read(n) for n in z.namelist()}

    def vendored():
        return {
            str(p.relative_to(vendor)): p.read_bytes()
            for p in (vendor / "google").rglob("*.py")
        }

    first = protoshim.shim_zip()
    assert protoshim.shim_zip() == first
    assert contents(first) == vendored()

    edited = vendor / "google" / "protobuf" / "__init__.py"
    edited.write_bytes(edited.read_bytes() + b"\n# edited\n")
    second = protoshim.shim_zip()
    assert second != first
    assert contents(second) == vendored()


def test_append_pythonpath_keeps_vendor_dir_last():
    """Entries appended after the shim's vendor dir still precede it: the
    fallback must not shadow a package added later (get_spark appends the
    package's parent directory after ensure_protobuf may have run)."""
    import os

    from conceptnetwork_spark import protoshim

    env = {"PYTHONPATH": os.pathsep.join(["/a", ""])}
    protoshim.append_pythonpath(env, protoshim._VENDOR_DIR)
    protoshim.append_pythonpath(env, "/b")
    protoshim.append_pythonpath(env, "/a")
    assert env["PYTHONPATH"].split(os.pathsep) == ["/a", "/b", protoshim._VENDOR_DIR]
