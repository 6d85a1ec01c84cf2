"""Vectorized source-schema normalization (SURVEY.md §2.2; FIXTURES.md F7).

The reference harmonizes per-vendor cycler CSVs into one canonical schema via
column-fingerprint detection (utils.py:137-195), rename maps
(constants.py:199-293), ×1e3 unit scaling (utils.py:256-281), timestamp
localization (utils.py:332-399), interval parsing (utils.py:307-330), dtype
downcasts (Transformer.py:325-354), a thermocouple array (Transformer.py:
726-746) and a JSON escape hatch for unknown columns (Loader.py:495-524).

Here the whole pipeline is ONE ``select`` of pure Catalyst expressions —
column pruning and predicate pushdown reach the scan, the row-wise
``df.apply`` hot spots of the reference (its slowest code) become O(1)
columnar ops, and the only pandas touchpoint is the explicitly-vectorized
user hook (``mapInPandas``, Arrow-batched — reference BattETL.py:14-19).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from battetl_spark.functions.core import (
    interval_to_seconds,
    pack_other_details,
    parse_datetime_multi,
    strip_thousands,
    to_milli,
    to_utc,
    unixtime_s,
)

DEFAULT_TIMEZONE = "America/Los_Angeles"  # reference constants.py:2

# ---------------------------------------------------------------- detection
# Column-name fingerprints, ≥50% intersection wins, FIRST match in priority
# order wins (semantics of reference utils.py:137-195; the seven sets mirror
# constants.py:72-167: Arbin test-data / cycle-stats, Maccor test-data
# classic / type2 / customer1, Maccor cycle-stats classic / customer1).
# Names are normalized (lowercase, stripped) before matching. Fingerprints
# list only layout-DISTINCTIVE columns (the *_ONLY sets), not full headers.
FINGERPRINTS: list[tuple[str, frozenset[str]]] = [
    ("vendor_a", frozenset({  # Arbin-like test data
        "date time", "acr (ohm)", "dq/dv (ah/v)", "internal resistance (ohm)",
        "dv/dq (v/ah)", "dv/dt (v/s)", "data point",
    })),
    ("vendor_a_stats", frozenset({  # Arbin-like per-cycle stats
        "charge time (s)", "date_time", "mah/g", "coulombic efficiency (%)",
        "v_max_on_cycle (v)", "discharge time (s)",
    })),
    ("vendor_m", frozenset({  # Maccor-like test data (classic)
        "cyc#", "steptime(s)", "dpt time", "current(a)", "capacity(ah)",
        "step", "ev temp", "voltage(v)", "testtime(s)", "temp 1",
    })),
    ("vendor_m_t2", frozenset({  # Maccor-like test data, export type 2
        "rec", "cycle p", "cycle c", "capacity", "energy", "md", "es",
        "dpt time",
    })),
    ("vendor_m_c1", frozenset({  # Maccor-like test data, customer-1 export
        "cyc#", "step", "testtime(s)", "steptime(s)", "capacity(ah)",
        "watt-hr", "es", "dpt time", "volt 1",
        "manufactureraccess (0x00)", "atrate (0x02)", "temperature (0x06)",
        "voltage (0x08)", "batterystatus (0x0a)", "current (0x0c)",
        "remainingcapacity (0x10)", "fullchargecapacity (0x12)",
        "averagecurrent (0x14)", "relativestateofcharge (0x2c)",
        "chargingvoltage (0x30)", "chargingcurrent (0x32)",
        "designcapacity (0x3c)",
    })),
    ("vendor_m_stats", frozenset({  # Maccor-like per-cycle stats (classic)
        "t1_end", "t1_max", "t1_start", "t1_min", "cycle", "date",
        "ah-out", "ah-in",
    })),
    ("vendor_m_stats_c1", frozenset({  # Maccor-like stats, customer-1 export
        "cycle", "ah-in", "ah-out", "t1_start", "t1_end", "t1_min", "t1_max",
        "date",
    })),
]

_M_DATA_RENAME = {
    "cyc#": "cycle",
    "step": "step",
    "testtime(s)": "test_time_s",
    "steptime(s)": "step_time_s",
    "dpt time": "recorded_datetime",
}
_M_DATA_SCALE = {
    "current(a)": "current_ma",
    "voltage(v)": "voltage_mv",
    "capacity(ah)": "capacity_mah",
    "watt-hr": "energy_mwh",
}
_M_STATS_RENAME = {
    "cycle": "cycle",
    "date": "recorded_datetime",
    "test time": "test_time_s",
    "t1_start": "charge_thermocouple_start_c",
    "t1_end": "charge_thermocouple_end_c",
    "t1_min": "charge_thermocouple_min_c",
    "t1_max": "charge_thermocouple_max_c",
    "t1_start.1": "discharge_thermocouple_start_c",
    "t1_end.1": "discharge_thermocouple_end_c",
    "t1_min.1": "discharge_thermocouple_min_c",
    "t1_max.1": "discharge_thermocouple_max_c",
}
_M_STATS_SCALE = {
    "ah-in": "charge_capacity_mah",
    "ah-out": "discharge_capacity_mah",
    "wh-in": "charge_energy_mwh",
    "wh-out": "discharge_energy_mwh",
}

# profile -> {normalized source name -> canonical name} (pre-scaling).
# Scaled columns are mapped separately in _SCALE below.
RENAME: dict[str, dict[str, str]] = {
    "vendor_m": _M_DATA_RENAME,
    "vendor_m_c1": _M_DATA_RENAME,  # customer1 = classic + SMBus extras→JSON
    "vendor_m_t2": {
        "rec": "data_point",
        "cycle p": "cycle",
        "cycle c": "half_cycle",
        "step": "step",
        "test time": "test_time_s",
        "step time": "step_time_s",
        "dpt time": "recorded_datetime",
    },
    "vendor_m_stats": _M_STATS_RENAME,
    "vendor_m_stats_c1": _M_STATS_RENAME,
    "vendor_a": {
        "cycle index": "cycle",
        "step index": "step",
        "data point": "data_point",
        "test time (s)": "test_time_s",
        "step time (s)": "step_time_s",
        "date time": "recorded_datetime",
        "date_time": "recorded_datetime",
    },
    "vendor_a_stats": {
        "cycle index": "cycle",
        "step index": "step",
        "date_time": "recorded_datetime",
        "test time (s)": "test_time_s",
        "charge time (s)": "reported_charge_time_s",
        "discharge time (s)": "reported_discharge_time_s",
        "coulombic efficiency (%)": "reported_coulombic_efficiency",
        "v_max_on_cycle (v)": "v_max_on_cycle_v",
    },
}

# profile -> {normalized source name -> canonical milli-unit name} (×1000;
# reference constants.py:169-197).
_SCALE: dict[str, dict[str, str]] = {
    "vendor_m": _M_DATA_SCALE,
    "vendor_m_c1": _M_DATA_SCALE,
    "vendor_m_t2": {
        "current": "current_ma",
        "voltage": "voltage_mv",
        "capacity": "capacity_mah",
        "energy": "energy_mwh",
    },
    "vendor_m_stats": _M_STATS_SCALE,
    "vendor_m_stats_c1": _M_STATS_SCALE,
    "vendor_a": {
        "current (a)": "current_ma",
        "voltage (v)": "voltage_mv",
        "internal resistance (ohm)": "impedance_mohm",
        "charge capacity (ah)": "charge_capacity_mah",
        "discharge capacity (ah)": "discharge_capacity_mah",
        "charge energy (wh)": "charge_energy_mwh",
        "discharge energy (wh)": "discharge_energy_mwh",
        "power (w)": "power_mw",
    },
    "vendor_a_stats": {
        "current (a)": "current_ma",
        "voltage (v)": "voltage_mv",
        "charge capacity (ah)": "reported_charge_capacity_mah",
        "discharge capacity (ah)": "reported_discharge_capacity_mah",
        "charge energy (wh)": "reported_charge_energy_mwh",
        "discharge energy (wh)": "reported_discharge_energy_mwh",
    },
}

# thermocouple patterns (reference constants.py:24-26, utils.py:239-248)
_TC_PATTERNS = [
    re.compile(r"^aux_temperature_(\d+) \(c\)$"),
    re.compile(r"^temp (\d+)$"),
    re.compile(r"^thermocouple_(\d+)_c$"),
]

CANONICAL_ORDER = [
    "cycle", "step", "test_time_s", "step_time_s", "current_ma", "voltage_mv",
    "recorded_datetime", "unixtime_s", "thermocouple_temps_c", "other_details",
]


def _norm(name: str) -> str:
    return name.strip().lower()


def detect_source(columns: list[str]) -> str:
    """≥50% fingerprint intersection, first match in priority order wins
    (semantics of reference utils.py:174-193); else 'unstructured'."""
    names = {_norm(c) for c in columns}
    for profile, fp in FINGERPRINTS:
        if len(names & fp) * 2 >= len(fp):
            return profile
    return "unstructured"


def detect_make_type(columns: list[str]) -> tuple[str | None, str | None]:
    """(make, data_type) tuple — the reference's get_cycle_make contract
    (utils.py:137-195): (None, None) when nothing matches."""
    profile = detect_source(columns)
    if profile == "unstructured":
        return None, None
    make = "vendor_a" if profile.startswith("vendor_a") else "vendor_m"
    dtype = "cycle_stats" if "stats" in profile else "test_data"
    return make, dtype


def _tc_num(norm_name: str) -> int | None:
    for pat in _TC_PATTERNS:
        m = pat.match(norm_name)
        if m:
            return int(m.group(1))
    return None


def normalize_cycler_data(
    df: DataFrame,
    timezone: str = DEFAULT_TIMEZONE,
    file_meta: dict | None = None,
) -> DataFrame:
    """Vendor frame → canonical frame, as a single Catalyst ``select``.

    ``file_meta`` handles 'unstructured' sources the way the reference does
    (README.md:145-209, Transformer.py:124-175): a mapping
    ``{canonical: {"column_name": src, "scaling_factor": f}}``; required keys
    voltage_mv/current_ma/test_time_s are validated (utils.py:418-463).
    """
    # P3: drop all-null RAW rows first (reference utils.py:116-135) — must
    # run on source columns; derived cols like F.array(...) are never null,
    # so a post-transform filter would constant-fold to true.
    df = df.na.drop(how="all")
    src_cols = df.columns
    by_norm = {_norm(c): c for c in src_cols}
    make = detect_source(src_cols)

    exprs: list = []
    consumed: set[str] = set()

    def src(norm_name: str):
        c = by_norm.get(norm_name)
        if c is not None:
            consumed.add(c)
        return c

    if make == "unstructured":
        if not file_meta:
            raise ValueError(
                "unrecognized source schema and no file_meta mapping given "
                f"(columns={src_cols})"
            )
        required = {"voltage_mv", "current_ma", "test_time_s"}
        missing = required - set(file_meta)
        if missing:
            raise ValueError(f"file_meta missing required keys: {sorted(missing)}")
        for canon, spec in file_meta.items():
            col = spec["column_name"]
            consumed.add(col)
            factor = float(spec.get("scaling_factor", 1.0))
            e = strip_thousands(col) * F.lit(factor)
            if canon in ("cycle", "step"):
                e = F.col(col).try_cast("int")
            exprs.append(e.alias(canon))
    else:
        rename = RENAME[make]
        scale = _SCALE[make]
        # integer identity columns with downcast intent (P12;
        # reference Transformer.py:325-354 — intent preserved, its
        # `'stop' in columns` typo-bug is not)
        for src_n, canon in rename.items():
            c = src(src_n)
            if c is None:
                continue
            if canon in ("cycle", "step", "data_point", "half_cycle"):
                exprs.append(F.col(c).try_cast("int").alias(canon))
            elif canon == "recorded_datetime":
                parsed = parse_datetime_multi(F.col(c).cast("string"))
                exprs.append(to_utc(parsed, timezone).alias(canon))
            elif canon in ("test_time_s", "step_time_s"):
                # interval-or-numeric: '1d 15:07:52.77' rows parse as
                # intervals, plain numerics cast straight through (P10/P11)
                s = F.col(c).cast("string")
                exprs.append(
                    F.coalesce(strip_thousands(s), interval_to_seconds(s)).alias(canon)
                )
            else:
                exprs.append(strip_thousands(c).alias(canon))
        for src_n, canon in scale.items():
            c = src(src_n)
            if c is not None:
                exprs.append(to_milli(c).alias(canon))

    # thermocouples → one array column (P13): O(1) columnar F.array, replacing
    # the reference's row-wise df.apply (Transformer.py:726-746, its slowest op)
    tc = sorted(
        (num, c)
        for num, c in ((_tc_num(_norm(c)), c) for c in src_cols)
        if num is not None
    )
    for _, c in tc:
        consumed.add(c)
    if tc:
        exprs.append(
            F.array(*[strip_thousands(c) for _, c in tc]).alias("thermocouple_temps_c")
        )

    # leftover columns → other_details JSON (P15), dropping pandas-artifact
    # unnamed columns first (P1, reference utils.py:73-91)
    extras = [
        c
        for c in src_cols
        if c not in consumed and not _norm(c).startswith("unnamed")
    ]
    if extras:
        exprs.append(pack_other_details(extras).alias("other_details"))

    out = df.select(*exprs)
    if "recorded_datetime" in out.columns:
        out = out.withColumn("unixtime_s", unixtime_s("recorded_datetime"))  # P9

    ordered = [c for c in CANONICAL_ORDER if c in out.columns] + [
        c for c in out.columns if c not in CANONICAL_ORDER
    ]
    return out.select(*ordered)


def user_transform_hook(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Arrow-vectorized user transform (P16) — the faithful mapping of the
    reference's whole-frame callable hook (BattETL.py:14-19,
    Transformer.py:34-39): per-batch pandas via mapInPandas, never per-row."""
    schema = schema or df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield fn(b)

    return df.mapInPandas(run, schema)
