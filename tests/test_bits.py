"""codecs/bits.py: the one bit packer against a scalar reference, and a
source lint that keeps every ``np.packbits`` of the engine in it."""

import pathlib
import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from activity_files_spark.codecs import bits
from activity_files_spark.codecs.bits import BitWriter, pack

REPO = pathlib.Path(__file__).resolve().parent.parent


def reference(fields, lsb_first, pad):
    """Bit-at-a-time: each field is the low n bits of v (Python's infinite
    two's complement), emitted MSB- or LSB-first, then padded to a byte."""
    stream = []
    for v, n in fields:
        field = [(v >> i) & 1 for i in range(n)]
        stream += field if lsb_first else field[::-1]
    stream += [pad] * (-len(stream) % 8)
    return bytes(sum(b << (i if lsb_first else 7 - i) for i, b in enumerate(stream[k:k + 8]))
                 for k in range(0, len(stream), 8))


FIELDS = st.lists(st.tuples(st.integers(-2**63, 2**63 - 1), st.integers(1, 80)),
                  max_size=40)


@settings(max_examples=300, deadline=None)
@given(FIELDS, st.booleans(), st.sampled_from([0, 1]))
def test_pack_matches_reference(fields, lsb_first, pad):
    vals = [v for v, _ in fields]
    lens = [n for _, n in fields]
    assert pack(vals, lens, lsb_first, pad) == reference(fields, lsb_first, pad)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(["write", "array", "align"]), FIELDS),
                max_size=8))
def test_writer_matches_reference(ops):
    w = BitWriter()
    fields = []
    for op, fs in ops:
        if op == "align":
            fields.append((0, -sum(n for _, n in fields) % 8))
            w.align()
        elif op == "write":
            for v, n in fs:
                w.write(v, n)
            fields += fs
        else:
            w.write_array([v for v, _ in fs], [n for _, n in fs])
            fields += fs
    assert w.nbits == sum(n for _, n in fields)
    assert w.bytes() == reference(fields, False, 0)


def test_empty_input_packs_to_no_bytes():
    for lsb_first in (False, True):
        for pad in (0, 1):
            assert pack([], [], lsb_first, pad) == b""
            assert pack(np.zeros(0, np.int64), np.zeros(0, np.int64), lsb_first, pad) == b""
    assert BitWriter().bytes() == b""


def test_rice_code_is_one_field():
    # quotient 70 in unary (70 zeros, a 1) then 3 remainder bits 0b101
    q, r = 70, 0b101
    assert pack([(1 << 3) | r], [q + 1 + 3]) == reference([(1, q + 1), (r, 3)], False, 0)


def test_array_write_broadcasts_one_width():
    w = BitWriter()
    w.write_array(np.array([-1, 2, 3]), 12)
    assert w.bytes() == pack([-1, 2, 3], [12, 12, 12])


def test_packbits_lives_in_one_module():
    helper = pathlib.Path(bits.__file__).resolve()
    sources = sorted((REPO / "activity_files_spark").rglob("*.py"))
    sources.append(REPO / "__spark_entry__.py")
    offenders = [
        f"{path.relative_to(REPO)}:{n}: {line.strip()}"
        for path in sources if path != helper
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\bpackbits\(", line)
    ]
    assert offenders == []
    assert "np.packbits(" in helper.read_text()
