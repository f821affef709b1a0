"""Seeded message payloads shared by the bench process and the broker, so
both sides can rebuild the exact bytes a run produced."""

from __future__ import annotations

import itertools
import random
from collections.abc import Iterator


def payload_stream(seed: int, tag: str) -> Iterator[bytes]:
    """Endless payloads of 64 B to 1 KiB, fixed by (seed, tag)."""
    rng = random.Random(f"{seed}/{tag}")
    while True:
        yield rng.randbytes(rng.randint(64, 1024))


def wire_payloads(seed: int, tag: str, count: int) -> list[bytes]:
    return list(itertools.islice(payload_stream(seed, tag), count))
