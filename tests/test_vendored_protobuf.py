"""Unit tests for the from-scratch google.protobuf-compatible runtime
(aws_etl_bank_spark/vendor/google/protobuf) that unblocks
transformWithState.  The end-to-end validation is the JVM state server
parsing our bytes (tests/test_streaming.py); these tests pin the wire
format itself from the public spec's documented examples."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "aws_etl_bank_spark", "vendor"))

from google.protobuf.internal import wire_codec as w  # noqa: E402


def test_varint_spec_examples():
    # protobuf.dev encoding page: 1 -> 0x01, 150 -> 0x9601
    assert w.encode_varint(1) == b"\x01"
    assert w.encode_varint(150) == b"\x96\x01"
    assert w.decode_varint(b"\x96\x01", 0) == (150, 2)
    # negative int64: 10-byte two's complement
    enc = w.encode_varint(-2)
    assert len(enc) == 10
    assert w.varint_to_int64(w.decode_varint(enc, 0)[0]) == -2
    # boundaries
    for v in (0, 127, 128, 2**32, 2**63 - 1, -(2**63)):
        got = w.varint_to_int64(w.decode_varint(w.encode_varint(v), 0)[0])
        assert got == v, v


def test_zigzag_spec_examples():
    # spec table: 0->0, -1->1, 1->2, -2->3
    pairs = [(0, 0), (-1, 1), (1, 2), (-2, 3), (2147483647, 4294967294)]
    for signed, encoded in pairs:
        assert w.decode_varint(w.encode_zigzag(signed), 0)[0] == encoded
        assert w.zigzag_to_int(encoded) == signed


def test_truncated_varint_raises():
    with pytest.raises(w.WireError):
        w.decode_varint(b"\x96", 0)
    with pytest.raises(w.WireError):
        w.read_len_payload(b"\x05ab", 0)


def _pb2():
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm
    return sm


def test_generated_module_loads_and_publishes_enums():
    sm = _pb2()
    # proto3 top-level enum values become module constants 0..5
    assert [sm.PRE_INIT, sm.CREATED, sm.INITIALIZED, sm.DATA_PROCESSED,
            sm.TIMER_PROCESSED, sm.CLOSED] == [0, 1, 2, 3, 4, 5]
    assert sm.HandleState.Name(0) == "PRE_INIT"
    assert sm.HandleState.Value("CLOSED") == 5


def test_roundtrip_nested_oneof_request():
    sm = _pb2()
    req = sm.StateRequest(
        version=2,
        implicitGroupingKeyRequest=sm.ImplicitGroupingKeyRequest(
            setImplicitKey=sm.SetImplicitKey(key=b"\x00\x01\xff")))
    data = req.SerializeToString()
    back = sm.StateRequest()
    back.ParseFromString(data)
    assert back.version == 2
    assert back.implicitGroupingKeyRequest.setImplicitKey.key == \
        b"\x00\x01\xff"
    assert back.WhichOneof("method") == "implicitGroupingKeyRequest"


def test_empty_oneof_arm_still_serializes():
    """An empty message set as a oneof arm must emit a zero-length LEN
    record — that's the only way the peer learns which arm is set."""
    sm = _pb2()
    req = sm.ImplicitGroupingKeyRequest(
        removeImplicitKey=sm.RemoveImplicitKey())
    data = req.SerializeToString()
    assert data != b""
    back = sm.ImplicitGroupingKeyRequest()
    back.ParseFromString(data)
    assert back.WhichOneof("method") == "removeImplicitKey"


def test_default_scalars_not_emitted_but_set_string_is():
    sm = _pb2()
    assert sm.StateResponse().SerializeToString() == b""
    r = sm.StateResponse(statusCode=0, errorMessage="", value=b"")
    # proto3: defaults outside oneofs serialize to nothing
    assert r.SerializeToString() == b""
    r2 = sm.StateResponse(statusCode=3, errorMessage="boom")
    back = sm.StateResponse()
    back.ParseFromString(r2.SerializeToString())
    assert (back.statusCode, back.errorMessage, back.value) == \
        (3, "boom", b"")


def test_unknown_fields_skipped():
    sm = _pb2()
    # field 1 varint 7, then unknown field 1000 (LEN "xyz"), then
    # unknown fixed64 field 999
    buf = (w.encode_tag(1, w.WT_VARINT) + w.encode_varint(7)
           + w.encode_len(1000, b"xyz")
           + w.encode_tag(999, w.WT_I64) + b"\x00" * 8)
    msg = sm.StateResponse()
    msg.ParseFromString(buf)
    assert msg.statusCode == 7


def test_packed_repeated_accepted_on_parse():
    """Parsers must accept packed encodings for repeated numerics even
    when the sender's schema says unpacked (and vice versa)."""
    from google.protobuf.descriptor import Descriptor, FieldDescriptor
    from google.protobuf.message import Message

    d = Descriptor("Packed", ".t.Packed",
                   [FieldDescriptor("xs", 1, FieldDescriptor.TYPE_INT64,
                                    FieldDescriptor.LABEL_REPEATED)],
                   [], [], [])
    cls = type("Packed", (Message,), {"DESCRIPTOR": d})
    d._concrete_class = cls
    payload = b"".join(w.encode_varint(v) for v in (1, 200, 3, -4))
    buf = w.encode_len(1, payload)
    msg = cls()
    msg.ParseFromString(buf)
    assert list(msg.xs) == [1, 200, 3, -4]
    # unpacked form parses identically
    buf2 = b"".join(w.encode_tag(1, w.WT_VARINT) + w.encode_varint(v)
                    for v in (1, 200, 3, -4))
    msg2 = cls()
    msg2.ParseFromString(buf2)
    assert list(msg2.xs) == [1, 200, 3, -4]


def test_repeated_message_field_roundtrip():
    sm = _pb2()
    resp = sm.StateResponseWithMapIterator(
        statusCode=0, requireNextFetch=True,
        kvPair=[sm.KeyAndValuePair(key=b"k1", value=b"v1"),
                sm.KeyAndValuePair(key=b"k2", value=b"v2")])
    back = sm.StateResponseWithMapIterator()
    back.ParseFromString(resp.SerializeToString())
    assert [(p.key, p.value) for p in back.kvPair] == \
        [(b"k1", b"v1"), (b"k2", b"v2")]
    assert back.requireNextFetch is True
    # repeated bytes too (the map keys/values response)
    kv = sm.StateResponseWithMapKeysOrValues(value=[b"a", b"bb"])
    back2 = sm.StateResponseWithMapKeysOrValues()
    back2.ParseFromString(kv.SerializeToString())
    assert list(back2.value) == [b"a", b"bb"]


def test_truncated_message_raises_decode_error():
    sm = _pb2()
    from google.protobuf.message import DecodeError
    good = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            getValueState=sm.StateCallCommand(stateName="s"))
    ).SerializeToString()
    with pytest.raises(DecodeError):
        sm.StateRequest().ParseFromString(good[:-2])


# --- property tests (hypothesis): the wire codec must roundtrip any
# value the state protocol can carry -------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@settings(max_examples=200, deadline=None)
@given(I64)
def test_varint_roundtrip_any_int64(v):
    enc = w.encode_varint(v)
    got, pos = w.decode_varint(enc, 0)
    assert pos == len(enc)
    assert w.varint_to_int64(got) == v


@settings(max_examples=200, deadline=None)
@given(I64)
def test_zigzag_roundtrip_any_int64(v):
    enc = w.encode_zigzag(v)
    got, _ = w.decode_varint(enc, 0)
    assert w.zigzag_to_int(got) == v


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=-(2**31), max_value=2**31 - 1),
       st.text(max_size=40), st.binary(max_size=60))
def test_state_response_roundtrip_any_payload(code, err, val):
    sm = _pb2()
    r = sm.StateResponse(statusCode=code, errorMessage=err, value=val)
    back = sm.StateResponse()
    back.ParseFromString(r.SerializeToString())
    assert (back.statusCode, back.errorMessage, back.value) == \
        (code, err, val)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.binary(max_size=24), st.binary(max_size=24)),
                max_size=12),
       st.booleans())
def test_map_iterator_response_roundtrip_any_pairs(pairs, more):
    sm = _pb2()
    r = sm.StateResponseWithMapIterator(
        requireNextFetch=more,
        kvPair=[sm.KeyAndValuePair(key=k, value=v) for k, v in pairs])
    back = sm.StateResponseWithMapIterator()
    back.ParseFromString(r.SerializeToString())
    assert [(p.key, p.value) for p in back.kvPair] == pairs
    assert back.requireNextFetch is more


def test_lazy_submessage_write_attaches_to_parent():
    """ADVICE r12 (high): pyspark's stateful_processor_api_client writes
    ``cmd.ttl.durationMs = ms`` on an UNSET message field.  Real protobuf
    auto-vivifies: the read returns a live child that attaches itself
    (sets presence) on first write — the ttl MUST survive into the
    serialized request, not die on a detached default instance."""
    sm = _pb2()
    cmd = sm.StateCallCommand()
    cmd.stateName = "s"
    cmd.schema = "{}"
    assert not cmd.HasField("ttl")       # a read alone creates nothing
    _ = cmd.ttl.durationMs
    assert not cmd.HasField("ttl")
    cmd.ttl.durationMs = 5000            # the pyspark ttl code path
    assert cmd.HasField("ttl")
    back = sm.StateCallCommand()
    back.ParseFromString(cmd.SerializeToString())
    assert back.HasField("ttl")
    assert back.ttl.durationMs == 5000


def test_lazy_submessage_repeated_reads_same_instance():
    sm = _pb2()
    cmd = sm.StateCallCommand()
    assert cmd.ttl is cmd.ttl            # pending child is cached
    held = cmd.ttl
    held.durationMs = 7
    assert cmd.ttl is held               # attach keeps identity
    assert cmd.ttl.durationMs == 7


def test_lazy_attach_cascades_through_oneof_chain():
    """`req.statefulProcessorCall.getValueState.stateName = ...` must set
    presence at EVERY level and resolve the oneofs on the way up."""
    sm = _pb2()
    req = sm.StateRequest()
    req.statefulProcessorCall.getValueState.stateName = "deep"
    assert req.WhichOneof("method") == "statefulProcessorCall"
    assert req.statefulProcessorCall.WhichOneof("method") == "getValueState"
    back = sm.StateRequest()
    back.ParseFromString(req.SerializeToString())
    assert back.statefulProcessorCall.getValueState.stateName == "deep"


def test_lazy_oneof_child_reswitches_arm_on_late_write():
    """Real protobuf's _OneofListener: a pending child of oneof arm A,
    written AFTER arm B was set, re-switches the oneof back to A."""
    sm = _pb2()
    req = sm.StateRequest()
    held = req.statefulProcessorCall            # pending arm A
    req.version = 1
    req.implicitGroupingKeyRequest.setImplicitKey.key = b"k"  # arm B
    assert req.WhichOneof("method") == "implicitGroupingKeyRequest"
    held.getValueState.stateName = "late"       # write through held A
    assert req.WhichOneof("method") == "statefulProcessorCall"
    assert req.statefulProcessorCall.getValueState.stateName == "late"


def test_invalid_utf8_string_raises_decode_error():
    """ADVICE r12: hostile bytes in a string field surface as the
    documented DecodeError, never a raw UnicodeDecodeError."""
    from google.protobuf.message import DecodeError
    sm = _pb2()
    # stateName is field 1 (LEN): craft a record carrying invalid UTF-8
    bad = bytes([0x0A, 0x02, 0xC3, 0x28])
    m = sm.StateCallCommand()
    with pytest.raises(DecodeError):
        m.ParseFromString(bad)


def test_stale_lazy_child_detached_on_reparse():
    """ADVICE r13 (low): ParseFromString/CopyFrom discard pending
    lazy children — a previously vivified child reference written
    AFTER a re-parse must NOT re-attach and clobber the freshly
    parsed field value (real protobuf disconnects child listeners
    on clear)."""
    sm = _pb2()
    cmd = sm.StateCallCommand()
    stale = cmd.ttl                      # pending lazy child
    fresh = sm.StateCallCommand()
    fresh.stateName = "s"
    fresh.ttl.durationMs = 111
    cmd.ParseFromString(fresh.SerializeToString())
    assert cmd.ttl.durationMs == 111
    stale.durationMs = 999               # write through the stale ref
    assert cmd.ttl.durationMs == 111     # parsed value NOT clobbered
    assert not stale is cmd.ttl
    # CopyFrom takes the same path
    cmd2 = sm.StateCallCommand()
    stale2 = cmd2.ttl
    cmd2.CopyFrom(fresh)
    stale2.durationMs = 888
    assert cmd2.ttl.durationMs == 111


def test_copyfrom_self_is_noop():
    """r14 review: real protobuf short-circuits CopyFrom(self); the
    clear-then-merge implementation would serialize the already-empty
    message and destroy every field."""
    sm = _pb2()
    cmd = sm.StateCallCommand()
    cmd.stateName = "s"
    cmd.ttl.durationMs = 42
    cmd.CopyFrom(cmd)
    assert cmd.stateName == "s"
    assert cmd.ttl.durationMs == 42
