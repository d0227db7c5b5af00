"""Mutation fuzzing over every real codec in the production table:
flipping any single byte (or truncating at any point) of a valid file
must either decode cleanly (flips in don't-care or data regions
legitimately change values) or raise ValueError — never IndexError,
KeyError, struct.error, zlib.error, or a numpy shape error. This is
the malformed-input contract the unit tests pin pointwise, enforced
here across the whole byte surface. Seeded and deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import CODECS, kernels

# one entry per production codec row, keyed by the format token of its
# encode factory (_ppm_encode_fn -> "ppm"), which names the test cases
FORMATS = {c.encode.__name__.split("_")[1]: c for c in CODECS.values()}
assert len(FORMATS) == len(CODECS)

N_FLIPS = 400
N_TRUNCS = 120


def _valid_blob(codec, doc_id: int = 7) -> bytes:
    pdf = pd.DataFrame({"doc_id": [doc_id], "payload": [b"fuzz me gently 123"]})
    enc = pd.concat(list(kernels(codec)[0]([pdf])), ignore_index=True)
    return bytes(enc.iloc[0, 1])


def _decode_one(codec, blob: bytes):
    pdf = pd.DataFrame({"doc_id": [7], codec.blob: [blob]})
    return pd.concat(list(kernels(codec)[1]([pdf])), ignore_index=True)


@pytest.mark.parametrize("name", sorted(FORMATS))
def test_single_byte_flips_never_escape_value_error(name):
    codec = FORMATS[name]
    blob = _valid_blob(codec)
    rng = np.random.RandomState(42)
    for _ in range(N_FLIPS):
        pos = int(rng.randint(0, len(blob)))
        val = int(rng.randint(1, 256))
        mutated = bytearray(blob)
        mutated[pos] ^= val
        try:
            _decode_one(codec, bytes(mutated))
        except ValueError:
            pass  # the documented rejection contract
        except Exception as exc:  # noqa: BLE001 — the assertion itself
            raise AssertionError(
                f"{name}: flip at byte {pos} (^{val:#x}) escaped the "
                f"ValueError contract with {type(exc).__name__}: {exc}"
            ) from exc


def test_png_crc_consistent_deflate_corruption():
    """Single flips never reach PNG's inflate stage (per-chunk CRC32
    catches them first), so corrupt the IDAT payload AND recompute the
    CRC: the zlib failure must surface as ValueError, not zlib.error
    (fuzz-found)."""
    import binascii
    import struct

    blob = _valid_blob(FORMATS["png"])
    pos = blob.find(b"IDAT")
    (length,) = struct.unpack(">I", blob[pos - 4 : pos])
    data = bytearray(blob[pos + 4 : pos + 4 + length])
    data[min(3, length - 1)] ^= 0xFF
    crc = binascii.crc32(b"IDAT" + bytes(data))
    mutated = (
        blob[: pos + 4]
        + bytes(data)
        + struct.pack(">I", crc)
        + blob[pos + 4 + length + 4 :]
    )
    with pytest.raises(ValueError, match="corrupt PNG deflate"):
        _decode_one(FORMATS["png"], mutated)


def test_decompression_bombs_rejected_before_allocation():
    """Corrupted headers must not demand multi-GB buffers: JPEG SOF
    dims, GIF LSD dims, and PNG inflate output are all bounded before
    any large allocation (fuzz-found hardening; at fleet scale an
    unbounded decode is an executor OOM vector)."""
    import struct
    import zlib

    # JPEG: rewrite SOF0 dims to 65528 x 65528 (multiples of 8)
    blob = _valid_blob(FORMATS["jpeg"])
    at = blob.find(b"\xff\xc0") + 5
    bad = blob[:at] + struct.pack(">HH", 65528, 65528) + blob[at + 4 :]
    with pytest.raises(ValueError, match="raster too large"):
        _decode_one(FORMATS["jpeg"], bad)

    # GIF: rewrite LSD + descriptor dims to 65535 x 65535
    blob = _valid_blob(FORMATS["gif"])
    big = struct.pack("<HH", 65535, 65535)
    desc = blob.find(b"\x2c", 6 + 7 + 768)
    bad = (
        blob[:6] + big + blob[10 : desc + 5] + big + blob[desc + 9 :]
    )
    with pytest.raises(ValueError, match="raster too large"):
        _decode_one(FORMATS["gif"], bad)

    # PNG: CRC-consistent IDAT that inflates far past the raster size
    blob = _valid_blob(FORMATS["png"])
    import binascii

    bomb = zlib.compress(bytes(1 << 22))  # 4 MiB of zeros, ~4 KB packed
    pos = blob.find(b"IDAT")
    (length,) = struct.unpack(">I", blob[pos - 4 : pos])
    # also drop the second IDAT chunk: splice bomb as the only stream
    end_first = pos + 4 + length + 4
    pos2 = blob.find(b"IDAT", end_first)
    end_second = pos2 + 4 + struct.unpack(">I", blob[pos2 - 4 : pos2])[0] + 4
    crc = binascii.crc32(b"IDAT" + bomb)
    bad = (
        blob[: pos - 4]
        + struct.pack(">I", len(bomb))
        + b"IDAT"
        + bomb
        + struct.pack(">I", crc)
        + blob[end_second:]
    )
    with pytest.raises(ValueError, match="raster size mismatch"):
        _decode_one(FORMATS["png"], bad)


@pytest.mark.parametrize("name", sorted(FORMATS))
def test_truncations_never_escape_value_error(name):
    codec = FORMATS[name]
    blob = _valid_blob(codec)
    rng = np.random.RandomState(1234)
    cuts = sorted(set(int(c) for c in rng.randint(0, len(blob), N_TRUNCS)))
    for cut in cuts:
        try:
            _decode_one(codec, blob[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(
                f"{name}: truncation at {cut}/{len(blob)} escaped the "
                f"ValueError contract with {type(exc).__name__}: {exc}"
            ) from exc
