"""Schedule/procedure config sources (SURVEY.md §2.1 S6-S11).

The reference parses cycler procedure files (Maccor XML .000, Arbin INI-ish
.sdx) into nested dicts and derives charge/discharge/rest step lists used by
the transform layer's step-class predicates (reference
extract/Extractor.py:253-350, 450-654). These are tiny driver-side config
artifacts — not data — so they stay on the driver (stdlib parsers, no
xmltodict dependency) and feed Catalyst literals (`step.isin(chg)`), the
broadcast-semi-join J2 pattern.
"""

from __future__ import annotations

import configparser
import os
import xml.etree.ElementTree as ET


class ScheduleError(Exception):
    pass


def procedure_from_xml(path: str) -> dict:
    """Maccor-style procedure XML → nested dict (S6 analog).
    Expected shape: <Procedure><Step><StepType>...</StepType>...</Step>...</Procedure>
    A stdlib walker stands in for xmltodict (the CAN scan reuses it):
    ``{root tag: ...}``, leaves become their stripped text, repeated tags a
    list."""

    def to_dict(el):
        children = list(el)
        if not children:
            return el.text.strip() if el.text else ""
        out: dict = {}
        for c in children:
            v = to_dict(c)
            if c.tag in out:
                if not isinstance(out[c.tag], list):
                    out[c.tag] = [out[c.tag]]
                out[c.tag].append(v)
            else:
                out[c.tag] = v
        return out

    root = ET.parse(path).getroot()
    return {root.tag: to_dict(root)}


def _ini_sections(path: str, encoding: str) -> dict[str, dict]:
    """INI file → ``{section: {key: value}}`` — lenient (duplicate keys and
    ``%`` are literal, as cycler software writes them)."""
    cp = configparser.ConfigParser(strict=False, interpolation=None)
    with open(path, encoding=encoding) as f:
        cp.read_string(f.read())
    return {s: dict(cp.items(s)) for s in cp.sections()}


def schedule_from_ini(path: str) -> dict:
    """Arbin-style INI schedule → nested dict (S9/S10 analog)."""
    return _ini_sections(path, "latin-1")


def raw_string_from_file(path: str) -> dict[str, str]:
    """Raw-string scan for waveform/simulation files (.mwf and friends) —
    {file name: contents} (S8 analog, reference Extractor.py:297-315, 571-585:
    fastwave/simulation files carry arbitrary text kept verbatim)."""
    with open(path, encoding="latin-1") as f:
        return {os.path.basename(path): f.read()}


def ini_dict_from_file(path: str, encoding: str = "utf-8") -> dict[str, dict]:
    """INI aux scan → {file name: {section: {key: value}}} (S10 analog,
    reference Extractor.py:482-545: .to object / .fm formula / .fra files)."""
    return {os.path.basename(path): _ini_sections(path, encoding)}


def can_xml_from_file(path: str) -> dict[str, dict]:
    """CAN BMS XML scan → {file name: nested dict} (S10 analog, reference
    Extractor.py:503-522 — the procedure walker, keyed by file name)."""
    return {os.path.basename(path): procedure_from_xml(path)}


# extension → reader for schedule-adjacent aux files (per-extension dispatch
# of reference Extractor.py:253-350 Maccor and 450-585 Arbin aux handling;
# .bth uses latin-1, mirroring the reference's ISO-8859-1 note)
AUX_READERS = {
    ".mwf": raw_string_from_file,
    ".fra": ini_dict_from_file,
    ".to": ini_dict_from_file,
    ".fm": ini_dict_from_file,
    ".bth": lambda p: ini_dict_from_file(p, encoding="latin-1"),
    ".can": can_xml_from_file,
}


def aux_from_files(paths: list[str]) -> dict[str, object]:
    """Scan every recognized aux file (by extension) into one merged dict;
    unrecognized extensions are ignored (they may be the main schedule)."""
    out: dict[str, object] = {}
    for p in paths:
        ext = os.path.splitext(p)[1].lower()
        reader = AUX_READERS.get(ext)
        if reader is not None:
            out.update(reader(p))
    return out


_CHG_WORDS = ("charge", "chg", "cc-cv", "cccv")
_DSG_WORDS = ("discharge", "dsg", "dischrge")
_RST_WORDS = ("rest", "pause", "idle")


def classify_steps(step_types: dict[int, str]) -> dict[str, list[int]]:
    """step number → type string ⇒ {'chg': [...], 'dsg': [...], 'rst': [...]}
    (reference step-list derivation Extractor.py:587-654)."""
    steps: dict[str, list[int]] = {"chg": [], "dsg": [], "rst": []}
    for num, typ in sorted(step_types.items()):
        t = (typ or "").strip().lower()
        if any(w in t for w in _DSG_WORDS):
            steps["dsg"].append(num)
        elif any(w in t for w in _CHG_WORDS):
            steps["chg"].append(num)
        elif any(w in t for w in _RST_WORDS):
            steps["rst"].append(num)
    return steps


def schedule_from_files(paths: list[str]) -> tuple[dict, dict[str, list[int]]]:
    """Dispatch by extension; refuse multiple schedule files (S11 semantics,
    reference Extractor.py:61-125 — including its refuse-second-file guard,
    without duplicating its shadowed-definition bug)."""
    main = [p for p in paths if p.lower().endswith((".000", ".xml", ".sdx", ".sdu", ".ini"))]
    if len(main) > 1:
        raise ScheduleError(f"multiple schedule files given: {main}")
    if not main:
        raise ScheduleError("no schedule file among paths")
    p = main[0]
    if p.lower().endswith((".000", ".xml")):
        proc = procedure_from_xml(p)
        # walk for Step/StepType pairs
        steps_raw = {}
        body = next(iter(proc.values()))
        steps = body.get("Step", []) if isinstance(body, dict) else []
        if isinstance(steps, dict):
            steps = [steps]
        for i, s in enumerate(steps, start=1):
            if isinstance(s, dict):
                num = int(s.get("StepNum", i))
                steps_raw[num] = str(s.get("StepType", ""))
        return proc, classify_steps(steps_raw)
    sched = schedule_from_ini(p)
    steps_raw = {}
    for sec, kv in sched.items():
        low = sec.lower()
        if low.startswith("step"):
            try:
                num = int("".join(ch for ch in sec if ch.isdigit()))
            except ValueError:
                continue
            steps_raw[num] = kv.get("m_szsteptype", kv.get("steptype", ""))
    return sched, classify_steps(steps_raw)


def schedule_bundle_from_files(
    paths: list[str],
) -> tuple[dict, dict[str, list[int]], dict]:
    """Main schedule + step classes + every recognized aux file (waveform /
    object / formula / mapping / CAN), the full contract of the reference's
    procedure/schedule-from-files entry points (Extractor.py:201-350,
    408-585)."""
    sched, steps = schedule_from_files(paths)
    return sched, steps, aux_from_files(paths)
