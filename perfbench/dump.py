"""Seeded synthetic GeoNames dump, laid out as the dump server serves it.

``build(seed, rows, dest)`` writes ``allCountries.zip`` (one member,
``allCountries.txt``: the 19 tab-separated GeoNames columns),
``admin1CodesASCII.txt``, ``admin2Codes.txt`` and ``extra_uris.json``
(a 1,000-URI allowlist). ``dest`` is then usable as a ``file://``
``baseUrl`` for ``etl_geonames_spark.geonames.job``.

What is fixed for a given row count, whatever the seed: the country
mix (20 countries, equal shares, so NL+DE is exactly 10 %), the
feature-code mix (31 of every 50 non-admin rows carry a PPL* or ADM*
code), the admin-code shapes that decide which rows may emit a
relation, and the allowlist size. What the seed changes: geonameids,
which admin1/admin2 codes a row points at (so which probes miss),
names, alternate names, coordinates and the other free-text columns.
The same (seed, rows) always gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
import zipfile

BASE_URI = "http://sws.geonames.org/"
COUNTRIES = ["NL", "DE", "FR", "ES", "IT", "PL", "SE", "NO", "PT", "BE",
             "AT", "CH", "DK", "FI", "GR", "IE", "CZ", "HU", "RO", "BG"]
N_ADMIN1 = 12  # admin1 codes per country
N_ADMIN2 = 8  # admin2 codes per admin1
N_EXTRA_URIS = 1000
# 50 slots: 31 typed under {PPL, ADM}, 19 untyped
FCODES = (
    ["PPL"] * 12 + ["PPLA"] * 4 + ["PPLA2"] * 3 + ["PPLA3"] * 2 + ["PPLX"] * 4
    + ["PPLL"] * 3 + ["ADM3"] * 2 + ["ADM4"]
    + ["STM"] * 5 + ["MT"] * 4 + ["LK"] * 3 + ["HTL"] * 3 + ["FRM"] * 2
    + ["SCH"] * 2
)
FCLASS = {"P": "P", "A": "A", "S": "H", "M": "T", "L": "H", "H": "S", "F": "S"}
TIMEZONES = ["Europe/Amsterdam", "Europe/Berlin", "Europe/Paris", "Europe/Madrid"]
SYLLABLES = ["ber", "gen", "dam", "burg", "ste", "ven", "hol", "ma", "ri",
             "lin", "ko", "wa", "dorf", "sen", "ta", "no", "el", "heim"]


class _Fields:
    """Free-text columns drawn from seeded pools: two 64-bit draws per
    row keep generation fast enough to run outside the timed window."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.names = [self._name() for _ in range(4096)]
        self.alts = [",".join(self._name() for _ in range(rng.randint(0, 4)))
                     for _ in range(4096)]

    def _name(self) -> str:
        rng = self.rng
        return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4))).title()

    def line(self, gid: int, fcode: str, cc: str, a1: str, a2: str, a3: str) -> str:
        b = self.rng.getrandbits(64)
        c = self.rng.getrandbits(64)
        name = self.names[b & 0xFFF]
        return "\t".join([
            str(gid), name, name, self.alts[(b >> 12) & 0xFFF],
            f"{35.0 + ((b >> 24) & 0xFFFFF) / 29959.0:.5f}",
            f"{-10.0 + ((b >> 44) & 0xFFFFF) / 26214.0:.5f}",
            FCLASS[fcode[0]], fcode, cc, "", a1, a2, a3, "",
            str(c % 500_000), "", str((c >> 20) % 3000),
            TIMEZONES[(c >> 32) & 3],
            f"2024-{(c >> 34) % 12 + 1:02d}-{(c >> 38) % 28 + 1:02d}",
        ]) + "\n"


def _codes(r: int, rng: random.Random) -> tuple[str, str, str]:
    """(admin1, admin2, admin3) for place row ``r``. The shape is fixed by
    ``r``; the codes are drawn, and index N_ADMIN1 / N_ADMIN2 is a code
    missing from the admin tables."""
    d = rng.getrandbits(32)
    a1 = f"{d % (N_ADMIN1 + 1):02d}"
    a2 = f"{(d >> 8) % (N_ADMIN2 + 1):03d}"
    shape = (r // 1000) % 10
    if shape == 6:  # two codes: no relation
        return a1, "", ""
    if shape == 7:  # four codes: no relation
        return a1, a2, f"{(d >> 16) % 100000:05d}"
    if shape == 8:  # three codes with a gap: the admin2 probe misses
        return a1, "", f"{(d >> 16) % 100000:05d}"
    return a1, a2, ""


def dump_lines(seed: int, rows: int) -> tuple[list[str], list[str], list[str], list[str]]:
    """(allCountries lines, admin1 lines, admin2 lines, extra URIs)."""
    n_admin = len(COUNTRIES) * N_ADMIN1 * (1 + N_ADMIN2)
    if rows < n_admin + N_EXTRA_URIS * 2:
        raise ValueError(f"rows must be at least {n_admin + N_EXTRA_URIS * 2}")
    rng = random.Random(seed)
    ids = list(range(1, rows + 1))
    rng.shuffle(ids)
    fields = _Fields(rng)
    lines: list[str] = []
    admin1: list[str] = []
    admin2: list[str] = []
    # the admin places themselves: each is its own admin2 (or admin1) parent
    for cc in COUNTRIES:
        for i in range(N_ADMIN1):
            a1 = f"{i:02d}"
            gid = ids[len(lines)]
            admin1.append(f"{cc}.{a1}\t{cc} {a1}\t{cc} {a1}\t{gid}\n")
            lines.append(fields.line(gid, "ADM1", cc, a1, "", ""))
            for j in range(N_ADMIN2):
                a2 = f"{j:03d}"
                gid = ids[len(lines)]
                admin2.append(f"{cc}.{a1}.{a2}\t{cc} {a1} {a2}\t{cc} {a1} {a2}\t{gid}\n")
                lines.append(fields.line(gid, "ADM2", cc, a1, a2, ""))
    outside_nl_de: list[int] = []
    for r in range(rows - n_admin):
        cc = COUNTRIES[r % len(COUNTRIES)]
        fcode = FCODES[(r // len(COUNTRIES)) % len(FCODES)]
        gid = ids[len(lines)]
        if cc not in ("NL", "DE"):
            outside_nl_de.append(gid)
        lines.append(fields.line(gid, fcode, cc, *_codes(r, rng)))
    extra = [f"{BASE_URI}{g}" for g in sorted(rng.sample(outside_nl_de, N_EXTRA_URIS))]
    return lines, admin1, admin2, extra


def build(seed: int, rows: int, dest: str) -> None:
    """Write the dump directory ``dest``, plus ``allCountries.txt`` beside
    the zip (callers that only serve the dump may delete it)."""
    lines, admin1, admin2, extra = dump_lines(seed, rows)
    os.makedirs(dest, exist_ok=True)
    txt = os.path.join(dest, "allCountries.txt")
    with open(txt, "w") as f:
        f.writelines(lines)
    for name, body in (("admin1CodesASCII.txt", admin1), ("admin2Codes.txt", admin2)):
        with open(os.path.join(dest, name), "w") as f:
            f.writelines(body)
    with open(os.path.join(dest, "extra_uris.json"), "w") as f:
        json.dump(extra, f)
    # fixed member timestamp so the archive is byte-identical per seed
    member = zipfile.ZipInfo("allCountries.txt", date_time=(1980, 1, 1, 0, 0, 0))
    member.compress_type = zipfile.ZIP_DEFLATED
    with zipfile.ZipFile(os.path.join(dest, "allCountries.zip"), "w") as zf, \
            open(txt, "rb") as src:
        zf.writestr(member, src.read(), compresslevel=1)
