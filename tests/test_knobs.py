"""The package's ``LEVSIM_*`` environment knobs: exactly the four with a
reason, each documented in README (no Spark session)."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
KNOBS = {"LEVSIM_NO_C", "LEVSIM_CACHE", "LEVSIM_DRIVER_MEM", "LEVSIM_ICEBERG_JAR"}


def test_levsim_knobs_are_the_documented_four():
    found = set()
    for path in (ROOT / "levsim").rglob("*"):
        if path.suffix in (".py", ".c"):
            found |= set(re.findall(r"LEVSIM_[A-Z0-9_]+", path.read_text()))
    assert found == KNOBS
    # each knob has a README bullet that says why it exists
    bullets = re.split(r"\n(?=- )", (ROOT / "README.md").read_text())
    for knob in KNOBS:
        why = [b for b in bullets if b.startswith(f"- `{knob}")]
        assert why and len(why[0].split(":", 1)[-1].split()) >= 8, knob
