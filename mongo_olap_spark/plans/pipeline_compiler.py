"""Mongo aggregation-pipeline compiler: JSON stage lists → DataFrame plans.

The reference's public query language is the MongoDB aggregation
pipeline — its users define cubes and ad-hoc queries as
``[{"$match": ...}, {"$group": ...}, ...]``. This module is the parity
layer: :func:`compile_pipeline` turns that JSON directly into an
*unresolved Spark logical plan* (a chain of DataFrame calls), so
Catalyst plans it like any hand-written query — predicate pushdown,
column pruning, broadcast selection and AQE all apply. Nothing here
executes anything; compilation is pure plan construction.

Design rules:

- Every compiled expression is a native ``Column`` (JVM, codegen) —
  the compiler never emits a Python UDF, so a compiled pipeline is
  exactly as scalable as the equivalent hand-written DataFrame code.
- Mongo semantics deltas route through functions/expressions.py
  (0-based $substrCP, null-safe $ne, try_divide $divide, …).
- ``$sum``/``$avg`` compile to the decimal-exact dsum/davg forms —
  the engine-wide policy that makes aggregates bit-stable under
  re-partitioning (and hash-exact against oracles).
- ``$first``/``$last`` require a preceding ``$sort`` and compile to
  ``min_by``/``max_by`` over the sort key — deterministic, unlike
  Spark's raw first/last.
- ``$lookup`` pre-aggregates the foreign side into one array row per
  key and then LEFT-joins: one shuffle on the join key, no row
  explosion, and a broadcast when the aggregated side is small.

Unsupported stages/operators raise ``PipelineError`` naming the
offender — a silently wrong answer is worse than a loud gap.
"""

from __future__ import annotations

import json
import re
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_olap_spark.functions.expressions import (
    davg,
    dsum,
    mongo_cond,
    mongo_divide,
    mongo_index_of,
    mongo_mod,
    mongo_ne,
    mongo_substr,
    mongo_switch,
)


class PipelineError(ValueError):
    """An unsupported or malformed pipeline construct."""


#: $setWindowFields with no partitionBy builds a GLOBAL window — Mongo's
#: documented semantics for an omitted partitionBy, and correct here,
#: but at scale it serializes the whole dataset through one WindowExec
#: partition. The knob lets deployments surface that hazard: "allow"
#: (default — engine-honest Mongo semantics), "warn" (python warnings),
#: "refuse" (PipelineError). See USAGE.md "Unpartitioned windows".
_UNPARTITIONED_WINDOW_POLICY = "allow"


def set_unpartitioned_window_policy(policy: str) -> str:
    """Set the engine-wide policy for $setWindowFields stages that omit
    partitionBy ("allow" | "warn" | "refuse"); returns the previous
    policy so callers can restore it."""
    global _UNPARTITIONED_WINDOW_POLICY
    if policy not in ("allow", "warn", "refuse"):
        raise ValueError(
            f"unpartitioned-window policy must be allow|warn|refuse, got {policy!r}"
        )
    prev = _UNPARTITIONED_WINDOW_POLICY
    _UNPARTITIONED_WINDOW_POLICY = policy
    return prev


def _check_unpartitioned_window() -> None:
    if _UNPARTITIONED_WINDOW_POLICY == "allow":
        return
    msg = (
        "$setWindowFields without partitionBy computes over ONE global "
        "window — a single Spark partition processes every row. Correct "
        "(Mongo semantics) but non-scalable; add partitionBy, or keep "
        "global windows for post-aggregate frames over small row counts."
    )
    if _UNPARTITIONED_WINDOW_POLICY == "refuse":
        raise PipelineError(msg)
    import warnings

    warnings.warn(msg, stacklevel=3)


# ---------------------------------------------------------------------------
# expression language:  {"$op": [...]} / "$field.path" / literal
# ---------------------------------------------------------------------------

#: optional hook stack remapping "$field" references (e.g. $merge
#: whenMatched pipelines resolve fields against the EXISTING side of
#: the merge join, where a bare F.col would be ambiguous)
_FIELD_RESOLVER: list = []


class _bind_fields:
    def __init__(self, resolver):
        self.resolver = resolver

    def __enter__(self):
        _FIELD_RESOLVER.append(self.resolver)

    def __exit__(self, *exc):
        _FIELD_RESOLVER.pop()


def _field(path: str) -> Column:
    if _FIELD_RESOLVER:
        return _FIELD_RESOLVER[-1](path)
    return F.col(path)


#: lexical scope for $$vars of $map/$filter/$reduce (and $let) — a
#: stack of {name: Column} frames; compilation is single-threaded plan
#: construction, so a module-level stack is safe
_VAR_SCOPE: list[dict[str, Column]] = []

#: per-frame ``var → DataType`` recorded at bind time (absent/None =
#: unknown), pushed/popped in lockstep with _VAR_SCOPE. Used ONLY by
#: the probe-mode rebind (ADVICE r11): the CI extremum guard re-types
#: a lambda-variable-referencing argument by recompiling it with free
#: $$vars bound to typed null literals, closing the expression so the
#: analyzer can resolve it.
_VAR_TYPE_SCOPE: list[dict] = []

#: probe-mode marker: while non-empty, $$vars bound in frames BELOW
#: the recorded depth (free vars of the expression being probed)
#: resolve to typed null literals instead of their real (enclosing-
#: lambda) columns; frames pushed during the probe recompile itself
#: stay real. Same single-threaded-plan-construction argument as
#: _VAR_SCOPE.
_PROBE_DEPTH: list[int] = []

#: intra-$project common-subexpression scope (optimization r16): maps
#: ``id()`` of every occurrence NODE of a CLOSED (no free $$vars),
#: repeated, non-trivial operator subtree → the hidden column that
#: carries its value, computed ONCE in an inner projection. (r17: the
#: scope used to key on the canonical JSON and re-canonicalize EVERY
#: dict compile_expr visited while installed — O(spec²) serialization
#: per $project at plan time, the same failure mode the r16 SRP fix
#: removed. The occurrence ids are collected during the one candidates
#: walk; the nodes stay alive for the whole $project compile — the
#: spec tree owns them — so an id hit IS the walked node, no aliasing.) Catalyst cannot share
#: interpreted higher-order-function subtrees across output columns
#: (HOFs are excluded from subexpression elimination), so a $project
#: computing $max/$median/$percentile/… over the same $map operand
#: re-evaluated the array once PER output column — measured 2.0 s vs
#: 0.24 s at sf0.1 on q_pipeline_expr_agg (guide §1.2 "per-task
#: work"). CollapseProject keeps the split projections apart because
#: since SPARK-36718 it refuses to inline non-cheap expressions that
#: are referenced more than once — exactly the contract this relies
#: on. Installed only while compiling one $project's output columns;
#: never under CI collation (the probe-mode recompiler resolves
#: against the pre-stage frame, which lacks the hidden columns).
_CSE_SCOPE: list[dict[int, str]] = []

#: canonical length below which a repeated subtree is not worth a
#: hidden column (tiny arithmetic re-evaluates cheaper than it plans)
_CSE_MIN_LEN = 30


def _cse_key(spec: Any) -> str:
    return json.dumps(spec, sort_keys=True, separators=(",", ":"),
                      default=str)


def _free_vars(spec: Any, bound: frozenset = frozenset()) -> set:
    """$$variables referenced by ``spec`` but not bound inside it.

    Binders mirror compile_expr's _bind sites: $map/$filter (``as``,
    default "this"), $reduce ("value"/"this"), $let (its vars). Any
    other $$name — including $$ROOT/$$CURRENT/$$REMOVE and enclosing-
    lambda variables — counts as free, which disqualifies the subtree
    from hoisting (conservative in the safe direction)."""
    if isinstance(spec, str):
        if spec.startswith("$$"):
            name = spec[2:].split(".", 1)[0]
            return set() if name in bound else {name}
        return set()
    if isinstance(spec, list):
        out: set = set()
        for v in spec:
            out |= _free_vars(v, bound)
        return out
    if isinstance(spec, dict):
        if len(spec) == 1:
            [(op, val)] = spec.items()
            if op in ("$map", "$filter") and isinstance(val, dict):
                var = val.get("as", "this")
                inner = bound | {var}
                out = set()
                for k, v in val.items():
                    out |= _free_vars(v, inner if k in ("in", "cond")
                                      else bound)
                return out
            if op == "$reduce" and isinstance(val, dict):
                inner = bound | {"value", "this"}
                out = set()
                for k, v in val.items():
                    out |= _free_vars(v, inner if k == "in" else bound)
                return out
            if op == "$let" and isinstance(val, dict):
                inner = bound | set((val.get("vars") or {}).keys())
                out = set()
                for k, v in val.items():
                    if k == "vars":
                        for vv in (v or {}).values():
                            out |= _free_vars(vv, bound)
                    else:
                        out |= _free_vars(v, inner if k == "in" else bound)
                return out
        out = set()
        for v in spec.values():
            out |= _free_vars(v, bound)
        return out
    return set()


def _cse_candidates(
    values: list, occ_ids: dict[str, list[int]] | None = None
) -> list[tuple[str, Any]]:
    """Maximal repeated closed operator subtrees across one $project's
    output expressions, largest first. $literal payloads are data, not
    expressions — never walked. With ``occ_ids``, records ``id()`` of
    every occurrence node per kept key so the compile-time scope can
    look occurrences up by identity instead of re-canonicalizing
    (see _CSE_SCOPE)."""
    counts: dict[str, list] = {}

    def walk(node: Any) -> None:
        if isinstance(node, dict):
            if len(node) == 1:
                op = next(iter(node))
                if op == "$literal":
                    return
                if op.startswith("$"):
                    key = _cse_key(node)
                    if len(key) >= _CSE_MIN_LEN:
                        slot = counts.setdefault(key, [0, node, []])
                        slot[0] += 1
                        slot[2].append(id(node))
            for v in node.values():
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    for v in values:
        walk(v)
    cand = [(k, node, ids) for k, (n, node, ids) in counts.items()
            if n >= 2 and not _free_vars(node)]
    cand.sort(key=lambda kv: -len(kv[0]))
    kept: list[tuple[str, Any]] = []
    for k, node, ids in cand:
        if not any(k in kk for kk, _ in kept):
            kept.append((k, node))
            if occ_ids is not None:
                occ_ids[k] = ids
    return kept


class _bind:
    # _types is positional-only: a user variable literally named
    # "_types" ($let var or a $map/$filter `as`) must land in **vars_,
    # not collide with the keyword (ADVICE r12).
    def __init__(self, _types: dict | None = None, /, **vars_: Column):
        self.frame = vars_
        self.types = _types or {}

    def __enter__(self):
        _VAR_SCOPE.append(self.frame)
        _VAR_TYPE_SCOPE.append(self.types)

    def __exit__(self, *exc):
        _VAR_SCOPE.pop()
        _VAR_TYPE_SCOPE.pop()


#: aggregate-command collation scope (r7; strengths r13): a stack of
#: ints — 0 while compiling binary, 2 under case-insensitive
#: (strength 2), 1 under diacritic+case-insensitive (strength 1,
#: primary weight). Same single-threaded-plan-construction argument
#: as _VAR_SCOPE.
_COLLATION_SCOPE: list[int] = []

#: parallel stack: the active locale's compiled tailoring (a
#: ``_TailoredFold``) or None for untailored locales (r14 — locale
#: breadth past the DUCET accept-list). Same single-threaded
#: argument as _COLLATION_SCOPE.
_COLLATION_FOLD_SCOPE: list = []


def _ci() -> bool:
    """True under ANY non-binary collation — every strength-2 rewrite
    seam applies identically at strength 1 (primary weight subsumes
    case insensitivity); only the image function differs."""
    return bool(_COLLATION_SCOPE and _COLLATION_SCOPE[-1])


def _strength() -> int:
    return _COLLATION_SCOPE[-1] if _COLLATION_SCOPE else 0


def _tailoring():
    return _COLLATION_FOLD_SCOPE[-1] if _COLLATION_FOLD_SCOPE else None


class _collation_scope:
    def __init__(self, ci: int, fold=None):
        self.ci = ci
        self.fold = fold

    def __enter__(self):
        _COLLATION_SCOPE.append(self.ci)
        _COLLATION_FOLD_SCOPE.append(self.fold)

    def __exit__(self, *exc):
        _COLLATION_SCOPE.pop()
        _COLLATION_FOLD_SCOPE.pop()


# -- collation image (r13, VERDICT r12 task 4) ------------------------------
#
# Strength 2 compares through the lower() image. Strength 1 (primary
# weight) additionally folds diacritics, UCA/DUCET-style: a letter
# whose NFD canonical decomposition is one ASCII base plus combining
# marks is primary-equal to the base (á≡a); letters WITHOUT a
# canonical decomposition (ø, đ, ł, þ …) keep their own primary
# weight in the DUCET and are deliberately NOT folded; the classic
# DUCET primary expansions ß→ss, æ→ae, œ→oe apply. The modeled
# repertoire is Latin U+00C0–U+024F plus combining marks
# U+0300–U+036F (deleted, so NFD-decomposed data folds identically);
# anything outside compares binary — both the column image
# (lower→replace→translate, whole-stage codegen, no UDF) and the
# Python literal image apply the SAME finite table, so the two sides
# agree by construction.

def _build_s1_table() -> tuple[str, str]:
    import unicodedata

    src, dst = [], []
    for cp in range(0x00C0, 0x0250):
        ch = chr(cp).lower()
        if len(ch) != 1 or ch in src:
            continue
        decomp = unicodedata.normalize("NFD", ch)
        base = "".join(c for c in decomp if not unicodedata.combining(c))
        if base != ch and len(base) == 1 and base.isascii():
            src.append(ch)
            dst.append(base)
    # combining marks append AFTER the mapped pairs: translate()
    # deletes src chars beyond len(dst)
    marks = "".join(chr(cp) for cp in range(0x0300, 0x0370))
    return "".join(src) + marks, "".join(dst)


_S1_SRC, _S1_DST = _build_s1_table()
_S1_MAP = dict(zip(_S1_SRC, list(_S1_DST) + [""] * (len(_S1_SRC) - len(_S1_DST))))
_S1_EXPANSIONS = (("ß", "ss"), ("æ", "ae"), ("œ", "oe"))


# -- tailored locales (r14: locale breadth past the DUCET accept-list) ------
#
# A CLDR tailoring the image fold CAN honestly reproduce is a pure
# PRIMARY-level remap: new primary letters inserted after an existing
# anchor (sv: …z < å < ä < ö), letters secondary-equal to an existing
# letter (fi: w ≡ v), and digraph/expansion rules (da: aa ≡ å; sv/da:
# þ ≡ th at the modeled strengths). Members map to image keys
# ``anchor + chr(0xE000+i)`` — private-use suffixes — so the image's
# BINARY order realizes the tailored primary order: "å…" folds to
# "z<U+E000>...", after every "z..." string but before "{". Within-anchor
# order is the suffix index; at strength 1, secondary-equal class
# members share the class representative's key (sv: ä ≡ æ fold
# together); at strength 2 each member keeps its own suffix (they are
# unequal at strength 2, in tailored order). Two documented model
# limits, both shared with the untailored fold: (a) image compare is
# single-level, so primary-equal-but-secondary-different letters
# deviate from full UCA order in mixed-suffix contexts exactly as
# é/e already does at strength 2; (b) the modeled repertoire is the
# spec below + the Latin fold table — PUA characters in DATA and
# tailored letters outside the spec (e.g. Hungarian ő under sv)
# compare per the root fold, not the locale's full CLDR file.

_TAILORING_SPECS: dict[str, dict] = {
    # CLDR es standard: &N<ñ
    "es": {"after": {"n": [["ñ"]]}},
    # CLDR pl standard: &A<ą &C<ć &E<ę &L<ł &N<ń &O<ó &S<ś &Z<ź<ż
    "pl": {"after": {"a": [["ą"]], "c": [["ć"]], "e": [["ę"]],
                     "l": [["ł"]], "n": [["ń"]], "o": [["ó"]],
                     "s": [["ś"]], "z": [["ź"], ["ż"]]}},
    # CLDR cs standard: &C<č &H<ch &R<ř &S<š &Z<ž ("ch" is a primary
    # DIGRAPH after h — an after-insertion whose member is two chars)
    "cs": {"after": {"c": [["č"]], "h": [["ch"]], "r": [["ř"]],
                     "s": [["š"]], "z": [["ž"]]}},
    # CLDR sv standard: &D<<đ<<ð; &t<<<þ/h; &Y<<ü;
    # &[before 1]ǀ<å<ä<<æ<ö<<ø  (ä/æ and ö/ø secondary-equal pairs)
    "sv": {"after": {"z": [["å"], ["ä", "æ"], ["ö", "ø"]]},
           "equal": {"d": ["đ", "ð"], "y": ["ü"]},
           "expand": [("þ", "th")]},
    # CLDR da standard: &D<<đ<<ð; &t<<<þ/h; &Y<<ü;
    # &[before 1]ǀ<æ<<ä<ø<<ö<å<<<aa  (aa TERTIARY-equal to å — an
    # alias onto å's key at both modeled strengths; leftmost-greedy
    # on longer runs, the documented model of the compound-boundary
    # ambiguity real Danish dictionaries resolve by hand)
    "da": {"after": {"z": [["æ", "ä"], ["ø", "ö"], ["å"]]},
           "equal": {"d": ["đ", "ð"], "y": ["ü"]},
           "expand": [("þ", "th")],
           "alias": [("aa", "å")]},
    # CLDR fi standard core: &V<<w; &Y<<ü;
    # &[before 1]ǀ<å<ä<<æ<ö<<ø
    "fi": {"after": {"z": [["å"], ["ä", "æ"], ["ö", "ø"]]},
           "equal": {"v": ["w"], "y": ["ü"]}},
    # CLDR ro standard: &A<ă<â &I<î &S<ș &T<ț; the legacy cedilla
    # spellings ş/ţ (U+015F/U+0163) are equal to the comma-below
    # letters at every strength (encoding variants, not letters)
    "ro": {"after": {"a": [["ă"], ["â"]], "i": [["î"]],
                     "s": [["ș"]], "t": [["ț"]]},
           "alias": [("ş", "ș"), ("ţ", "ț")]},
    # Esperanto: the circumflex/breve letters follow their bases by
    # definition of the alphabet (&C<ĉ &G<ĝ &H<ĥ &J<ĵ &S<ŝ &U<ŭ)
    "eo": {"after": {"c": [["ĉ"]], "g": [["ĝ"]], "h": [["ĥ"]],
                     "j": [["ĵ"]], "s": [["ŝ"]], "u": [["ŭ"]]}},
    # CLDR tr standard (r15, VERDICT r14 task 3): &C<ç &G<ğ &H<ı
    # (dotless ı is a primary letter BETWEEN h and i) &O<ö &S<ş &U<ü,
    # plus the dotted/dotless-i CASE tailoring that kept tr on the
    # refuse list through r14: uppercase İ is tertiary-equal to i and
    # uppercase I is tertiary-equal to ı (&i<<<İ, &ı<<<I). The case
    # map is a PRE-LOWER replace pair (İ→i, I→ı): after it no İ/I
    # remains, so root lower() — which would wrongly map I→i and
    # İ→i+U+0307 — never sees them. Exactly the compiled-replace
    # machinery the r14 primary remaps use, one seam earlier.
    "tr": {"pre": [("İ", "i"), ("I", "ı")],
           "after": {"c": [["ç"]], "g": [["ğ"]], "h": [["ı"]],
                     "o": [["ö"]], "s": [["ş"]], "u": [["ü"]]}},
    # CLDR az standard: the Azerbaijani alphabet order (a b c ç d e ə
    # f g ğ h x ı i j k q l m n o ö p r s ş t u ü v y z) — Turkish's
    # letters plus ə after e, and the ASCII letters x (after h, before
    # ı) and q (after k) REMAPPED from their root positions; same
    # dotted/dotless-i case tailoring as tr.
    "az": {"pre": [("İ", "i"), ("I", "ı")],
           "after": {"c": [["ç"]], "e": [["ə"]], "g": [["ğ"]],
                     "h": [["x"], ["ı"]], "k": [["q"]],
                     "o": [["ö"]], "s": [["ş"]], "u": [["ü"]]}},
    # CLDR is standard (r16, fourth wave): the accented vowels and
    # ð/þ/æ/ö are DISTINCT PRIMARY letters of the Icelandic alphabet
    # (&[before 1]b<á ≡ after-a here; &[before 1]e<ð; … &[before 1]ǀ
    # <þ<æ<<ä<ö<<ø — the same end-of-alphabet anchor shape as sv/da,
    # with ä secondary-equal to æ and ø secondary-equal to ö). The
    # r14/r15 refusal ("accented vowels are distinct primaries") was
    # an unshipped-wave marker, not an impossibility: the shape is
    # exactly the es/pl primary remap.
    "is": {"after": {"a": [["á"]], "d": [["ð"]], "e": [["é"]],
                     "i": [["í"]], "o": [["ó"]], "u": [["ú"]],
                     "y": [["ý"]],
                     "z": [["þ"], ["æ", "ä"], ["ö", "ø"]]}},
    # CLDR sk standard: &A<ä &C<č &H<ch &O<ô &S<š &Z<ž — the cs 'ch'
    # digraph shape plus ä/ô primaries (ď/ĺ/ľ/ň/ŕ/ť stay secondary
    # per root, like cs's ď/ť/ň)
    "sk": {"after": {"a": [["ä"]], "c": [["č"]], "h": [["ch"]],
                     "o": [["ô"]], "s": [["š"]], "z": [["ž"]]}},
    # CLDR hr standard: &C<č<ć &D<dž<đ &L<lj &N<nj &S<š &Z<ž. The
    # two-char digraphs ride the same longest-source-first replaces
    # as cs "ch"/da "aa"; the Unicode compatibility digraph
    # codepoints ǆ/ǉ/ǌ (U+01C6/01C9/01CC — every case form lower()s
    # to these) are tertiary-equal spellings aliased onto the digraph
    # keys. Like ICU, every 'lj'/'nj' letter pair collates as the
    # digraph (no morpheme-boundary exceptions).
    "hr": {"after": {"c": [["č"], ["ć"]], "d": [["dž"], ["đ"]],
                     "l": [["lj"]], "n": [["nj"]], "s": [["š"]],
                     "z": [["ž"]]},
           "alias": [("ǆ", "dž"), ("ǉ", "lj"), ("ǌ", "nj")]},
}
# Bosnian and Serbian-Latin collate with the same digraph tailoring
# as Croatian (CLDR bs.xml / sr_Latn: identical standard rules)
_TAILORING_SPECS["bs"] = _TAILORING_SPECS["hr"]


def _vi_spec() -> dict:
    """CLDR vi standard, GENERATED from Unicode data (r16, fifth
    wave). Two channels, both riding the same compiled replaces:

    - PRIMARY letters of the Vietnamese alphabet: a < ă < â, d < đ,
      e < ê, o < ô < ơ, u < ư. Their image suffixes start at U+E010
      (second slot U+E020) so every SECONDARY tone suffix
      (U+E001–U+E005) sorts below them — ``ạ < ă`` and ``ặ < â``
      come out of plain binary order.
    - TONE forms: every precomposed vowel+tone codepoint maps to its
      base letter's primary image plus a tone suffix in the CLDR/
      TCVN 5712 secondary order ngang(none) < huyền(grave) <
      hỏi(hook above) < ngã(tilde) < sắc(acute) < nặng(dot below).
      At strength 1 the tone folds away (base image only). The 60
      codepoints are derived by NFC-composing base × tone-mark with
      ``unicodedata`` — the repertoire cannot be mistyped; the only
      memory-bearing claims are the alphabet order and the tone
      order above, both asserted by the ordering pytests.

    No multi-character sources, so the straddle hazard that blocks
    hu is structurally absent (guarded by the no-straddle test).
    """
    import unicodedata as ud

    prim: dict[str, tuple[str, str]] = {}  # letter -> (s1/s2 image)
    for anchor, letters in (("a", ["ă", "â"]), ("d", ["đ"]),
                            ("e", ["ê"]), ("o", ["ô", "ơ"]),
                            ("u", ["ư"])):
        for k, letter in enumerate(letters):
            img = anchor + chr(0xE010 + k * 0x10)
            prim[letter] = (img, img)
    #: CLDR/TCVN tone order; suffixes E001..E005 < E010 (primaries)
    tones = ["̀", "̉", "̃", "́", "̣"]
    raw: list[tuple[str, str, str]] = [
        (letter, im1, im2) for letter, (im1, im2) in prim.items()
    ]
    for base in ["a", "ă", "â", "e", "ê", "i", "o", "ô", "ơ",
                 "u", "ư", "y"]:
        b1, b2 = prim.get(base, (base, base))
        for i, mark in enumerate(tones):
            composed = ud.normalize("NFC", base + mark)
            if len(composed) != 1:  # pragma: no cover — all exist
                raise AssertionError(
                    f"vi: no precomposed form for {base!r}+{mark!r}")
            raw.append((composed, b1, b2 + chr(0xE001 + i)))
    return {"raw": raw}


_TAILORING_SPECS["vi"] = _vi_spec()
# Norwegian (nb/nn and the macrolanguage tag) collates as Danish
_TAILORING_SPECS["nb"] = _TAILORING_SPECS["nn"] = \
    _TAILORING_SPECS["no"] = _TAILORING_SPECS["da"]


class _TailoredFold:
    """Compiled tailoring: ordered (src, dst) replaces per strength.
    Longer sources first so digraphs (cs "ch", da "aa") consume their
    letters before any single-char rule could."""

    __slots__ = ("locale", "s1", "s2", "pre")

    def __init__(self, locale: str, spec: dict):
        s1: list[tuple[str, str]] = []
        s2: list[tuple[str, str]] = []
        # case-mapping tailorings run BEFORE lower() (tr/az İ→i, I→ı):
        # root lower() would destroy the dotted/dotless distinction
        self.pre: list[tuple[str, str]] = list(spec.get("pre", []))
        for anchor, classes in spec.get("after", {}).items():
            flat = 0
            for cls in classes:
                rep = anchor + chr(0xE000 + flat)
                for j, m in enumerate(cls):
                    s1.append((m, rep))
                    s2.append((m, anchor + chr(0xE000 + flat + j)))
                flat += len(cls)
        for base, members in spec.get("equal", {}).items():
            for i, m in enumerate(members):
                s1.append((m, base))
                s2.append((m, base + chr(0xE000 + i)))
        for src, dst in spec.get("expand", []):
            s1.append((src, dst))
            s2.append((src, dst))
        def _img(target: str, table: list[tuple[str, str]]) -> str:
            # the image the member replaces would give this string —
            # longest-source-first, same discipline as the runtime.
            # The sentinel probe restores the r15 dict-lookup's
            # spec-definition-time validation: every char of the
            # target must be consumed by a member rule, or a typo'd
            # alias target would silently mint a partially-folded
            # (wrong) image instead of failing at construction.
            img = target
            probe = target
            for a, b in sorted(table, key=lambda r: -len(r[0])):
                img = img.replace(a, b)
                probe = probe.replace(a, "\x00")
            if any(ch != "\x00" for ch in probe):
                raise KeyError(
                    f"{locale}: alias target {target!r} is not fully "
                    f"covered by tailored members "
                    f"(unconsumed: {[c for c in probe if c != chr(0)]})")
            return img

        for src, target in spec.get("alias", []):
            # tertiary-equal spelling: identical image to its target
            # at every modeled strength. The target may be a single
            # member (da: aa ≡ å) or a CONCATENATION of members
            # (hu r16: ccs ≡ cs+cs — the doubled-digraph expansion),
            # so its image is computed by the member replaces rather
            # than a dict lookup.
            s1.append((src, _img(target, s1)))
            s2.append((src, _img(target, s2)))
        # fully explicit replaces for tailorings the class/equal
        # channels cannot encode without suffix collisions (vi r16:
        # tone marks are SECONDARY suffixes under anchors that also
        # carry primary after-insertions). Generated, not hand-typed.
        for src, d1, d2 in spec.get("raw", []):
            s1.append((src, d1))
            s2.append((src, d2))
        key = lambda r: -len(r[0])  # noqa: E731 — longest-source-first
        self.locale = locale
        self.s1 = sorted(s1, key=key)
        self.s2 = sorted(s2, key=key)

    def replaces(self, strength: int) -> list[tuple[str, str]]:
        return self.s1 if strength == 1 else self.s2


_TAILORED_FOLDS = {loc: _TailoredFold(loc, spec)
                   for loc, spec in _TAILORING_SPECS.items()}


def _fold_col(col: Column) -> Column:
    """The active collation's image of a string column: lower() at
    strength 2; lower→expansions→translate diacritic fold at
    strength 1; under an accepted TAILORED locale, the locale's
    primary remap runs between the two (after lower, before the
    root fold — a tailored letter must reach its locale key before
    the DUCET table could fold it to its base). Pure built-in string
    expressions — stays inside whole-stage codegen, no UDF, no extra
    shuffle."""
    tail = _tailoring()
    if tail is not None:
        for a, b in tail.pre:  # pre-lower case tailoring (tr/az)
            col = F.replace(col, F.lit(a), F.lit(b))
    col = F.lower(col)
    if tail is not None:
        for a, b in tail.replaces(_strength()):
            col = F.replace(col, F.lit(a), F.lit(b))
    if _strength() != 1:
        return col
    for a, b in _S1_EXPANSIONS:
        col = F.replace(col, F.lit(a), F.lit(b))
    return F.translate(col, _S1_SRC, _S1_DST)


def _fold_lit(s: str) -> str:
    """Python-side image of a literal — same table as :func:`_fold_col`."""
    tail = _tailoring()
    if tail is not None:
        for a, b in tail.pre:
            s = s.replace(a, b)
    s = s.lower()
    if tail is not None:
        for a, b in tail.replaces(_strength()):
            s = s.replace(a, b)
    if _strength() != 1:
        return s
    for a, b in _S1_EXPANSIONS:
        s = s.replace(a, b)
    return "".join(_S1_MAP.get(c, c) for c in s)


#: the DataFrame the current stage's expressions compile against —
#: lets :func:`_compile_op` run analyzer-level type checks (string vs
#: not) for the CI-collation guards on expression $min/$max/$minN/
#: $maxN (ADVICE r10). Same single-threaded argument as _VAR_SCOPE.
_TYPE_DF_SCOPE: list[DataFrame] = []


class _type_scope:
    def __init__(self, df: DataFrame):
        self.df = df

    def __enter__(self):
        _TYPE_DF_SCOPE.append(self.df)

    def __exit__(self, *exc):
        _TYPE_DF_SCOPE.pop()


def _probe_dt(col: Column):
    """Analyzer-resolved DataType of ``col`` against the current stage
    frame (plan-time only — no job runs), or None when there is no
    type scope or the column cannot be resolved (e.g. it references an
    enclosing HOF's lambda variable)."""
    if not _TYPE_DF_SCOPE:
        return None
    try:
        return _TYPE_DF_SCOPE[-1].select(col).schema[0].dataType
    except Exception:
        return None


def _probe_recompile_dt(recompile):
    """DataType of the column ``recompile()`` re-derives in PROBE
    MODE: free $$vars of enclosing lambdas resolve to typed null
    literals (element types recorded when the lambda bound them),
    closing the expression so the analyzer can type it. None when
    still unresolvable — no type scope, an in-scope var of unknown
    type, or the recompile itself fails."""
    if not _TYPE_DF_SCOPE:
        return None
    _PROBE_DEPTH.append(len(_VAR_SCOPE))
    try:
        return _TYPE_DF_SCOPE[-1].select(recompile()).schema[0].dataType
    except Exception:
        return None
    finally:
        _PROBE_DEPTH.pop()


def _hof_elem_type(raw_input):
    """Element type of a HOF's input array, recorded at lambda-bind
    time for the probe-mode rebind (CI collation only — the extremum
    guard is the sole consumer, so the analyzer roundtrip is skipped
    entirely outside a CI scope). Probe-mode recompilation resolves
    nested lambdas too (the input of an inner $map may itself
    reference the outer lambda's variable). None = unknown."""
    from pyspark.sql.types import ArrayType

    if not _ci():
        return None
    dt = _probe_recompile_dt(lambda: compile_expr(raw_input))
    return dt.elementType if isinstance(dt, ArrayType) else None


def _embeds_string(dt) -> bool:
    """True if ``dt`` contains a StringType anywhere — itself, an
    array element (recursively), a struct field, or a map key/value.
    The CI extremum guard refuses on ANY embedded string: Spark's
    array extrema order nested arrays/structs element-by-element and
    field-by-field, so a string at any depth participates in the
    binary comparison (ADVICE r12 — the old top-level-only check let
    array<array<string>> and array<struct<...string...>> through)."""
    from pyspark.sql.types import ArrayType, MapType, StringType, StructType

    if isinstance(dt, StringType):
        return True
    if isinstance(dt, ArrayType):
        return _embeds_string(dt.elementType)
    if isinstance(dt, StructType):
        return any(_embeds_string(f.dataType) for f in dt.fields)
    if isinstance(dt, MapType):
        return _embeds_string(dt.keyType) or _embeds_string(dt.valueType)
    return False


def _ci_refuse_string_extremum(op: str, arr: Column, recompile=None) -> None:
    """CI-collation guard for the EXPRESSION forms of $min/$max/$minN/
    $maxN (ADVICE r10): they pick extrema by binary comparison, so a
    string-typed argument under a case-insensitive collation would
    silently yield the binary extremum ({$max: ["Zebra", "apple"]} →
    "apple" in CI order, "Zebra" binary). Mirrors the type-gated
    _CI_CMP_ACCS accumulator policy: numeric/boolean/date arguments
    pass through (collation never affects non-string comparisons);
    string elements refuse loudly.

    An argument inside a $map/$filter/$reduce/$let body references
    $$vars the stage frame cannot resolve directly; ``recompile`` (a
    thunk re-deriving the argument column) is then retried in probe
    mode, where those free vars become typed null literals recorded at
    bind time — so numeric/date lambda extrema compile instead of
    false-refusing (ADVICE r11). A type that is STILL unresolvable
    refuses conservatively, naming the $$var limitation — the
    refuse-loudly contract beats a silent binary compare."""
    from pyspark.sql.types import ArrayType

    dt = _probe_dt(arr)
    if dt is None and recompile is not None:
        dt = _probe_recompile_dt(recompile)
    if dt is None:
        # unresolvable: conservative refusal, naming the $$var limit
        raise PipelineError(
            f"collation: expression {op} over string values would "
            "compare binary under the requested case-insensitive "
            "collation; wrap operands in $toLower explicitly or drop "
            "the collation (an argument referencing a $$var whose "
            "element type cannot be resolved refuses conservatively)")
    # Extrema over arrays whose element type EMBEDS a string anywhere
    # (array<string>, but also array<array<string>>, array<struct
    # <...string...>>) compare those strings binary — descend the
    # whole element type, not just its top level (ADVICE r12).
    if isinstance(dt, ArrayType) and _embeds_string(dt.elementType):
        raise PipelineError(
            f"collation: expression {op} over string values would "
            "compare binary under the requested case-insensitive "
            "collation; wrap operands in $toLower explicitly or drop "
            "the collation")


#: collation options the engine models only at their Mongo defaults —
#: anything else refuses by name (the refuse-loudly convention)
_COLLATION_DEFAULTS = {
    "caseLevel": False,
    "caseFirst": "off",
    "numericOrdering": False,
    "alternate": "non-ignorable",
    "backwards": False,
    "normalization": False,
}

#: stages a case-insensitive collation is allowed to flow through —
#: either rewritten ($match/$group/$sort/$sortByCount) or free of
#: string comparisons. Everything else refuses by name: silently
#: running binary compares under a requested collation is the exact
#: failure mode this engine's conventions forbid.
_COLLATION_CI_STAGES = frozenset({
    "$match", "$project", "$addFields", "$set", "$unset", "$unwind",
    "$limit", "$skip", "$count", "$sample", "$replaceRoot",
    "$replaceWith", "$documents", "$group", "$sort", "$sortByCount",
    "$lookup",  # r9: localField/foreignField equality through the
                # lower() image when both sides are string-typed
    "$bucket",      # r10: string boundaries bracket the lower() image
    "$bucketAuto",  # r10: lower()-image order, binary tie-break
    "$facet",       # r10: sub-pipelines re-enter the SAME CI scope
    "$unionWith",   # r10: union compares nothing; its optional
                    # sub-pipeline re-enters the same CI scope
    "$setWindowFields",  # r10: string partitionBy → lower()-image
                         # partitions; string sortBy → (lower, binary)
                         # order, rank ops tie per CI class; comparing
                         # window ops refuse string args
})


#: Latin-script locales whose CLDR collation is the ROOT (DUCET) order
#: with no tailoring — for these, strength-1/2 semantics through the
#: locale-agnostic fold of :func:`_fold_col` are honest: the primary
#: fold IS their primary fold, and lower() IS their case fold (r14,
#: VERDICT r13 task 5). Verified against CLDR common/collation: these
#: locales have no <collation> tailoring file (or an empty standard
#: one), so they inherit root.
_UNTAILORED_LOCALES = frozenset({
    "en", "de", "fr", "it", "nl", "pt", "id", "ms", "sw",
})

#: locales REFUSED BY NAME with the specific tailoring the DUCET fold
#: would violate — silently collating these like 'en' is the silent-
#: wrong-answer failure mode the refuse-loudly convention bans. Keyed
#: by base tag or full tag (fr_CA: base fr is untailored, the CA
#: variant is not).
_TAILORED_LOCALES = {
    # tr/az moved to _TAILORING_SPECS in r15; is/sk/hr (and bs) in
    # r16 — their shapes were always expressible by the compiled
    # replaces. What remains is refused for a STATED structural
    # reason, not backlog (USAGE.md "Refused locales — why", r16):
    "lt": "dot-above accent/case tailoring on i/j is defined on "
          "combining-mark SEQUENCES (context-sensitive secondary "
          "weights) a context-free string image cannot express",
    "hu": "cs/dz/dzs/gy/ly/ny/sz/ty/zs primary digraphs include "
          "STRADDLING pairs (sz/zs, dz/zs): collation needs "
          "leftmost-longest segmentation, but any fixed global "
          "replace order mis-segments one of the DOUBLED-contraction "
          "contexts (counterexample zszs vs szsz — machine-checked "
          "in tests/test_collation.py)",
    "fr_CA": "backwards secondary level (accents compare from the "
             "END of the string — provably not order-embeddable in "
             "any per-character forward image)",
}


def _parse_collation(collation) -> tuple[int, "_TailoredFold | None"]:
    """Validate an aggregate-command ``collation`` document; return
    ``(strength, tailoring)``: strength 0 for binary (``simple``)
    compare, 2 for the case-insensitive lower()-image rewrite, 1 for
    the diacritic+case-insensitive primary-weight fold (r13);
    tailoring is the locale's compiled ``_TailoredFold`` when the
    locale carries a CLDR tailoring the image fold honestly
    reproduces (r14), else None.

    Modeled surface: ``{locale: "simple"}`` → pass-through;
    ``{locale: L, strength: 2|1}`` for any UNTAILORED Latin-script
    locale L (accept-list ``_UNTAILORED_LOCALES``) → lower()-image /
    DUCET primary-fold rewrites of $match predicates, $group keys and
    $sort keys; the same for the PRIMARY-REMAP tailored locales of
    ``_TAILORING_SPECS`` (es/pl/cs/sv/da/nb/nn/no/fi/ro/eo), whose
    tailoring rides the image as locale replaces. Locales whose
    tailoring the image CANNOT honestly express (case-mapping
    tailorings, doubled digraphs, backwards secondaries …) refuse by
    name with the specific violation (``_TAILORED_LOCALES``); unknown
    locales refuse generically. Strength ≥3 tertiary ordering and
    non-default option flags refuse by name.
    """
    if collation is None:
        return 0, None
    if not (isinstance(collation, dict) and "locale" in collation):
        raise PipelineError("collation must be a document with a 'locale'")
    for k, v in collation.items():
        if k in ("locale", "strength"):
            continue
        if k not in _COLLATION_DEFAULTS:
            raise PipelineError(
                f"collation option {k!r} is not supported "
                f"(modeled options: locale, strength)")
        if v != _COLLATION_DEFAULTS[k]:
            raise PipelineError(
                f"collation {k}={v!r} is not supported; the engine "
                f"models only the default {_COLLATION_DEFAULTS[k]!r}")
    loc = collation["locale"]
    strength = collation.get("strength")
    if loc == "simple":
        if strength not in (None, 3):
            raise PipelineError(
                "collation locale 'simple' is binary compare; "
                "strength other than the default 3 is meaningless")
        return 0, None
    base = loc.split("_")[0].split("-")[0]
    if loc in _TAILORED_LOCALES or base in _TAILORED_LOCALES:
        why = _TAILORED_LOCALES.get(loc) or _TAILORED_LOCALES[base]
        raise PipelineError(
            f"collation locale {loc!r} carries an ICU tailoring the "
            f"image fold cannot honestly reproduce ({why}); refusing "
            f"rather than silently collating like 'en'. Accepted: "
            f"untailored {sorted(_UNTAILORED_LOCALES)} and "
            f"primary-remap tailored {sorted(_TAILORED_FOLDS)}")
    fold = None
    if base in _TAILORED_FOLDS and loc not in _UNTAILORED_LOCALES:
        fold = _TAILORED_FOLDS.get(loc) or _TAILORED_FOLDS[base]
    if base in _UNTAILORED_LOCALES or fold is not None:
        if strength in (1, 2):
            return strength, fold
        raise PipelineError(
            f"collation locale {loc!r} supports strength 2 "
            f"(case-insensitive lower()-image) and strength 1 "
            f"(diacritic+case-insensitive primary fold); got "
            f"{strength!r} — ICU tertiary ordering is not modeled")
    raise PipelineError(
        f"collation locale {loc!r} is not supported (not on the "
        f"verified accept-lists — an unverified locale could carry "
        f"a tailoring the image fold would silently violate); "
        f"supported: 'simple' (binary), untailored "
        f"{sorted(_UNTAILORED_LOCALES)} and primary-remap tailored "
        f"{sorted(_TAILORED_FOLDS)} with strength 2 or 1")


def _collate_pair(col: Column, v):
    """Under a case-insensitive collation, compare through the
    lower() image when the literal operand is a string; binary
    compare otherwise. Membership operators ($in/$nin/$all) with
    string members never reach here — the $match dispatch routes them
    to :func:`_collate_member_op`, which rewrites only the STRING
    members (collation never affects non-string comparisons, r8)."""
    if not _ci():
        return col, v
    if isinstance(v, str):
        return _fold_col(col), _fold_lit(v)
    if isinstance(v, (list, tuple)) and any(
            isinstance(x, str) for x in v):
        # only $eq/$ne/ordering against an array LITERAL land here;
        # F.lower over the (array-typed) column would be a cast error
        # or, worse, a silent stringify — refuse toward $all/$elemMatch
        raise PipelineError(
            "collation: comparing against an array literal with "
            "string members is not collation-rewritten; use $all or "
            "$elemMatch, or drop the collation")
    return col, v


def _collate_in(col: Column, v) -> Column:
    """$in membership under a CI collation: string members compare
    through the lower() image; a None member keeps $in's type-agnostic
    null/missing branch. Non-null NON-string members refuse: lowering
    the whole column (the r7 bug) stringified numerics, and comparing
    them raw against a string-typed column is an ANSI runtime cast
    error — the static column type is not visible at this depth
    (multikey traversal lambdas), so split the query into
    ``$or: [{f: {$in: strings}}, {f: {$in: others}}]`` instead
    (Mongo: collation never affects non-string comparisons)."""
    strs = [x for x in v if isinstance(x, str)]
    if any(x is not None and not isinstance(x, str) for x in v):
        raise PipelineError(
            "collation: $in/$nin over a mixed string/non-string "
            "member list is not collation-rewritten; split into an "
            "$or of per-type clauses or drop the collation")
    pred = _fold_col(col).isin(*[_fold_lit(s) for s in strs])
    if None in v:
        pred = pred | col.isNull()
    return pred


def _collate_member_op(op: str, col: Column, v) -> Column:
    """Compile $in/$nin/$all under a CI collation when the member
    list contains strings (the dispatch guarantees it does)."""
    if not isinstance(v, (list, tuple)):
        raise PipelineError(f"{op} requires an array")
    if op == "$all":
        if not all(isinstance(x, str) for x in v):
            raise PipelineError(
                "collation: $all over a mixed string/non-string "
                "member list is not collation-rewritten; split into "
                "separate clauses or drop the collation")
        # elementwise lower() of the ARRAY column (F.lower on the
        # array itself would be a type error)
        return _MATCH_OPS["$all"](
            F.transform(col, _fold_col), [_fold_lit(x) for x in v])
    pred = _collate_in(col, list(v))
    if op == "$in":
        return pred
    # $nin ≡ null-safe NOT of $in: a null/missing field matches $nin
    # unless null is in the list ($in's explicit isNull branch makes
    # the inner predicate non-null in that case)
    return ~F.coalesce(pred, F.lit(False))


def _is_string_path(df: DataFrame, path: str) -> bool:
    """Is the (possibly dotted) field path statically string-typed in
    ``df``? Drives the CI-collation lower()-image rewrites of $sort
    keys. A path through an array of documents refuses loudly inside
    :func:`_walk_path_type` (multikey CI ordering is not modeled);
    an absent path is not a string (binary/no-op compare)."""
    from pyspark.sql.types import StringType

    return isinstance(
        _walk_path_type(df.schema, path, "collation"), StringType)


def _is_string_expr(df: DataFrame, e: Column) -> bool:
    """Is compiled expression ``e`` string-typed against ``df``?
    Resolved through the analyzer (plan-time only — no job runs)."""
    from pyspark.sql.types import StringType

    return isinstance(df.select(e).schema[0].dataType, StringType)


def _lookup_var(name: str) -> Column:
    """Resolve ``$$var`` or ``$$var.sub.path`` (struct/map access on a
    bound loop/let variable, e.g. ``$$m.match`` over $regexFindAll's
    match structs)."""
    head, *rest = name.split(".")
    for i in range(len(_VAR_SCOPE) - 1, -1, -1):
        frame = _VAR_SCOPE[i]
        if head in frame:
            col = frame[head]
            if _PROBE_DEPTH and i < _PROBE_DEPTH[-1]:
                # probe mode: a FREE var (bound by a lambda enclosing
                # the probed expression) resolves to a typed null
                # literal when its type was recorded at bind time —
                # the analyzer can then type the closed expression.
                # Unknown type keeps the real column (the probe select
                # then fails and the caller refuses conservatively).
                t = _VAR_TYPE_SCOPE[i].get(head)
                if t is not None:
                    col = F.lit(None).cast(t)
            for part in rest:
                col = col.getItem(part)
            return col
    raise PipelineError(f"unsupported variable $${name}")


def compile_expr(spec: Any) -> Column:
    """Compile one Mongo aggregation expression to a Column."""
    if isinstance(spec, str):
        if spec.startswith("$$"):
            return _lookup_var(spec[2:])
        if spec.startswith("$"):
            return _field(spec[1:])
        return F.lit(spec)
    if spec is None or isinstance(spec, (int, float, bool)):
        return F.lit(spec)
    if isinstance(spec, dict):
        if _CSE_SCOPE:
            hoisted = _CSE_SCOPE[-1].get(id(spec))
            if hoisted is not None:
                return F.col(hoisted)
        ops = [k for k in spec if k.startswith("$")]
        if len(ops) == 1 and len(spec) == 1:
            return _compile_op(ops[0], spec[ops[0]])
        if ops:
            raise PipelineError(f"mixed operator/document expression: {spec!r}")
        # document literal -> struct
        return F.struct(*[compile_expr(v).alias(k) for k, v in spec.items()])
    if isinstance(spec, list):
        return F.array(*[compile_expr(v) for v in spec])
    raise PipelineError(f"cannot compile expression {spec!r}")


def _args(spec: Any) -> list:
    return spec if isinstance(spec, list) else [spec]


#: Mongo $dateToString specifier → JVM DateTimeFormatter pattern letters
_DATE_SPECS = {
    "Y": "yyyy", "m": "MM", "d": "dd", "H": "HH", "M": "mm",
    "S": "ss", "L": "SSS", "j": "DDD",
}


#: date-part operators accepting Mongo's {date, timezone} object form
_DATE_PART_OPS = {
    "$year", "$month", "$dayOfMonth", "$hour", "$minute", "$second",
    "$millisecond", "$dayOfWeek", "$dayOfYear", "$week", "$isoWeek",
    "$isoDayOfWeek", "$isoWeekYear",
}


def _tz_literal(spec: dict, op: str) -> str | None:
    """The validated literal ``timezone`` parameter, or None. Mongo
    accepts IANA names ('America/New_York') and fixed offsets
    ('+04:30') — both are legal JVM zone ids. Expressions refuse: a
    per-row zone would block whole-stage codegen of every date op."""
    tz = spec.get("timezone")
    if tz is None:
        return None
    if not isinstance(tz, str) or tz.startswith("$"):
        raise PipelineError(f"{op}: timezone must be a literal string")
    return tz


def _tz_wall(c: Column, spec: dict, op: str) -> Column:
    """The instant ``c`` as WALL-CLOCK time in spec['timezone'] (no-op
    without the parameter). The engine pins the session zone to UTC
    (sources/tables._ensure_session_conf), so TimestampType renders as
    UTC and ``from_utc_timestamp`` yields the zone's local clock —
    Mongo's documented meaning of every date operator's ``timezone``."""
    tz = _tz_literal(spec, op)
    return c if tz is None else F.from_utc_timestamp(c, tz)


#: $dateTrunc units (millisecond refused: no sub-second date_trunc
#: in Spark, and the engine's timestamps are µs — document the gap
#: loudly rather than silently truncating to seconds)
_TRUNC_UNITS = {"year", "quarter", "month", "week", "day", "hour",
                "minute", "second"}
#: last <weekday> on or before Mongo's 2000-01-01 bin reference —
#: the anchor that makes week bins land on startOfWeek boundaries
_TRUNC_WEEK_ANCHOR = {
    "sunday": "1999-12-26", "monday": "1999-12-27",
    "tuesday": "1999-12-28", "wednesday": "1999-12-29",
    "thursday": "1999-12-30", "friday": "1999-12-31",
    "saturday": "2000-01-01",
}
_FIXED_UNIT_S = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
_MONTH_UNITS = {"month": 1, "quarter": 3, "year": 12}
_BIN_REF_S = 946684800  # 2000-01-01T00:00:00Z


def _date_trunc_binned(c: Column, unit: str, bin_size: int, sow: str) -> Column:
    """$dateTrunc with binSize (and week startOfWeek): the bin start
    containing ``c``, bins laid out from Mongo's 2000-01-01 reference
    instant. floor() keeps pre-reference instants in their own bins
    (floor of a negative quotient), matching bins-relative-to-the-
    reference in both directions. Pure codegen arithmetic."""
    if unit in _MONTH_UNITS:
        w = bin_size * _MONTH_UNITS[unit]
        m = (F.year(c) - 2000) * 12 + F.month(c) - 1
        binm = (F.floor(m / F.lit(w)) * w).cast("int")
        return F.add_months(F.lit("2000-01-01").cast("date"), binm).cast(
            "timestamp"
        )
    if unit == "week":
        anchor = F.lit(_TRUNC_WEEK_ANCHOR[sow]).cast("date")
        days = F.datediff(c.cast("date"), anchor)
        w = 7 * bin_size
        bind = (F.floor(days / F.lit(w)) * w).cast("int")
        return F.date_add(anchor, bind).cast("timestamp")
    w = bin_size * _FIXED_UNIT_S[unit]
    ue = F.unix_timestamp(c)
    return F.timestamp_seconds(
        (F.floor((ue - _BIN_REF_S) / F.lit(w)) * w + _BIN_REF_S).cast("long")
    )


def _mongo_date_format(fmt: str) -> str:
    """Translate a Mongo $dateToString format to a JVM pattern.

    Scanned as a token stream, not text substitution: every
    non-specifier character (including 'T', the literal 'Z' in the
    default format, and '%' produced by '%%') is single-quoted so the
    JVM formatter emits it verbatim instead of treating letters as
    pattern letters or rendering a zone offset. Unknown specifiers
    refuse by name (checked per token, so '%%' can no longer mask or
    be masked by the leftover-'%' scan).
    """
    out: list[str] = []
    lit: list[str] = []

    def flush():
        if lit:
            out.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            if i + 1 >= len(fmt):
                raise PipelineError(f"$dateToString: trailing '%' in {fmt!r}")
            nxt = fmt[i + 1]
            if nxt == "%":
                lit.append("%")
            elif nxt in _DATE_SPECS:
                flush()
                out.append(_DATE_SPECS[nxt])
            else:
                raise PipelineError(
                    f"$dateToString: unsupported format specifier %{nxt} in {fmt!r}"
                )
            i += 2
        else:
            lit.append(fmt[i])
            i += 1
    flush()
    return "".join(out)


#: format specifiers the JVM formatter CANNOT render correctly (its
#: week fields are locale-dependent, not ISO) — each becomes a
#: computed column concatenated between date_format runs
def _computed_date_spec(nxt: str, wall: Column, c: Column,
                        tz: str | None) -> Column:
    if nxt == "u":  # ISO day of week 1-Monday..7-Sunday
        return (F.weekday(wall) + 1).cast("string")
    if nxt == "w":  # Mongo: 1-Sunday..7-Saturday (C strftime is 0-based)
        return F.dayofweek(wall).cast("string")
    if nxt == "U":  # week 00-53, Sunday-first (strftime-%U)
        return F.lpad(_SIMPLE_UNARY["$week"](wall).cast("string"), 2, "0")
    if nxt == "V":  # ISO week 01-53
        return F.lpad(F.weekofyear(wall).cast("string"), 2, "0")
    if nxt == "G":  # ISO week-numbering year
        return F.lpad(_SIMPLE_UNARY["$isoWeekYear"](wall).cast("string"), 4, "0")
    # %z (+hhmm) / %Z (minutes): the zone's UTC offset AT this instant
    # (DST-dependent) — derived from the wall/UTC epoch difference, so
    # no zone-rules lookup is needed beyond the one _tz_wall already did
    off_min = ((F.unix_timestamp(wall) - F.unix_timestamp(c)) / 60).cast("int")
    if tz is None:
        off_min = F.when(c.isNull(), F.lit(None).cast("int")).otherwise(0)
    if nxt == "Z":
        return off_min.cast("string")
    if nxt == "z":
        sign = F.when(off_min < 0, "-").otherwise("+")
        mag = F.abs(off_min)
        return F.concat(
            sign,
            F.lpad(F.floor(mag / 60).cast("int").cast("string"), 2, "0"),
            F.lpad((mag % 60).cast("string"), 2, "0"),
        )
    raise AssertionError(nxt)


_COMPUTED_DATE_SPECS = set("uwUVGzZ")


def _date_to_string(fmt: str, wall: Column, c: Column,
                    tz: str | None) -> Column:
    """$dateToString: JVM-safe runs render via date_format; the
    ISO-week/offset specifiers (which DateTimeFormatter only offers in
    locale-dependent form) interleave as computed columns. Every piece
    is null when the date is null, so the concat preserves Mongo's
    null-in/null-out."""
    pieces: list[Column] = []
    run: list[str] = []  # pending JVM-pattern tokens
    lit: list[str] = []

    def flush_lit():
        if lit:
            run.append("'" + "".join(lit).replace("'", "''") + "'")
            lit.clear()

    def flush_run():
        flush_lit()
        if run:
            pieces.append(F.date_format(wall, "".join(run)))
            run.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%":
            if i + 1 >= len(fmt):
                raise PipelineError(f"$dateToString: trailing '%' in {fmt!r}")
            nxt = fmt[i + 1]
            if nxt == "%":
                lit.append("%")
            elif nxt in _DATE_SPECS:
                flush_lit()
                run.append(_DATE_SPECS[nxt])
            elif nxt in _COMPUTED_DATE_SPECS:
                flush_run()
                pieces.append(_computed_date_spec(nxt, wall, c, tz))
            else:
                raise PipelineError(
                    f"$dateToString: unsupported format specifier "
                    f"%{nxt} in {fmt!r}"
                )
            i += 2
        else:
            lit.append(fmt[i])
            i += 1
    flush_run()
    if not pieces:  # empty format: "" for every non-null date
        return F.when(c.isNotNull(), F.lit("")).otherwise(F.lit(None))
    return pieces[0] if len(pieces) == 1 else F.concat(*pieces)


def _variadic(fn: Callable[[Column, Column], Column], args: list) -> Column:
    out = compile_expr(args[0])
    for a in args[1:]:
        out = fn(out, compile_expr(a))
    return out


_SIMPLE_UNARY = {
    "$abs": F.abs, "$ceil": F.ceil, "$floor": F.floor, "$exp": F.exp,
    "$ln": F.log, "$log10": F.log10, "$sqrt": F.sqrt,
    "$toLower": F.lower, "$toUpper": F.upper, "$strLenCP": F.length,
    "$trim": None,  # handled below (object form)
    "$size": F.size, "$not": lambda c: ~c.cast("boolean"),
    "$year": F.year, "$month": F.month, "$dayOfMonth": F.dayofmonth,
    "$hour": F.hour, "$minute": F.minute, "$second": F.second,
    "$toString": lambda c: c.cast("string"),
    "$toInt": lambda c: c.try_cast("int"),
    "$toLong": lambda c: c.try_cast("long"),
    "$toDouble": lambda c: c.try_cast("double"),
    "$toDate": lambda c: c.cast("timestamp"),
    # typed-engine delta: Mongo's $toBool maps any non-empty string to
    # true; a typed cast parses "true"/"false" and nulls the rest
    "$toBool": lambda c: c.try_cast("boolean"),
    "$toDecimal": lambda c: c.try_cast("decimal(38,10)"),
    # trigonometry / angle conversion — direct JVM codegen functions
    "$sin": F.sin, "$cos": F.cos, "$tan": F.tan,
    "$asin": F.asin, "$acos": F.acos, "$atan": F.atan,
    "$sinh": F.sinh, "$cosh": F.cosh, "$tanh": F.tanh,
    "$asinh": F.asinh, "$acosh": F.acosh, "$atanh": F.atanh,
    "$degreesToRadians": F.radians, "$radiansToDegrees": F.degrees,
    # date parts. $dayOfWeek: both engines use 1=Sunday..7=Saturday.
    "$dayOfWeek": F.dayofweek, "$dayOfYear": F.dayofyear,
    "$isoWeek": F.weekofyear,
    "$isoDayOfWeek": lambda c: F.weekday(c) + 1,  # 1=Monday..7=Sunday
    "$millisecond": lambda c: F.date_format(c, "SSS").cast("int"),
    # strftime-%U semantics: days before the year's first Sunday are
    # week 0 (NOT ISO weeks — that's $isoWeek)
    "$week": lambda c: F.floor(
        (F.dayofyear(c) + 6 - (F.dayofweek(c) - 1)) / 7
    ).cast("int"),
    # ISO week-numbering year = calendar year of that week's Thursday
    "$isoWeekYear": lambda c: F.year(
        F.date_add(F.date_trunc("week", c).cast("date"), 3)
    ),
    # arrays / sets
    "$reverseArray": F.reverse,
    "$anyElementTrue": lambda c: F.exists(c, lambda x: x.cast("boolean")),
    "$allElementsTrue": lambda c: F.forall(c, lambda x: x.cast("boolean")),
    # Mongo objects are maps in the typed engine: map-typed input
    # yields the documented [{k, v}] shape. (Struct fields are
    # statically known at plan time — project them directly instead.)
    "$objectToArray": lambda c: F.transform(
        F.map_entries(c),
        lambda e: F.struct(e["key"].alias("k"), e["value"].alias("v")),
    ),
    # struct-element [{k, v}] form; the [[k, v]] pair form needs
    # runtime shape detection a typed engine cannot do
    "$arrayToObject": F.map_from_entries,
}

def _bson_ordered(strict: Column, on_null: Column):
    """Mongo aggregation comparisons use the BSON TOTAL sort order:
    null (≡ missing) sorts below every number/string, so e.g.
    $lt: [null, 3] is TRUE and $gt: [3, null] is TRUE — never null.
    ``strict`` is the plain SQL comparison for the both-non-null case;
    ``on_null`` decides the mixed/both-null cases."""
    def cmp(a: Column, b: Column) -> Column:
        return F.when(a.isNull() | b.isNull(), on_null(a, b)).otherwise(strict(a, b))
    return cmp


_CMP = {
    "$eq": lambda a, b: a.eqNullSafe(b),
    "$ne": mongo_ne,
    # round 5: total-order comparisons (null smallest), matching
    # Mongo's aggregation semantics instead of SQL null-propagation
    "$gt": _bson_ordered(lambda a, b: a > b,
                         lambda a, b: b.isNull() & a.isNotNull()),
    "$gte": _bson_ordered(lambda a, b: a >= b,
                          lambda a, b: b.isNull()),
    "$lt": _bson_ordered(lambda a, b: a < b,
                         lambda a, b: a.isNull() & b.isNotNull()),
    "$lte": _bson_ordered(lambda a, b: a <= b,
                          lambda a, b: a.isNull()),
}


#: aggregation-expression operators that COMPARE values — under a CI
#: collation their string comparisons would run binary, so they refuse
#: by name anywhere expressions compile ($project/$addFields/$group
#: _id/$sortByCount/$expr/...). $strcasecmp stays allowed (it is
#: case-insensitive by definition); $in is collation-rewritten in
#: :func:`_ci_expr_in` when its member list is a literal all-string
#: (lower()-image) or no-string (binary — collation never affects
#: non-string comparisons) array, refusing the mixed/computed shapes.
_CI_REFUSED_EXPR_OPS = frozenset({
    "$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$cmp",
    "$indexOfArray", "$setEquals", "$setIsSubset", "$setDifference",
    "$setIntersection", "$setUnion", "$sortArray",
})


def _ci_expr_in(spec: Any) -> Column:
    """``{$in: [needle, members]}`` under a CI collation (r10).

    Mirrors the $match-level :func:`_collate_in` policy: a literal
    member list that is ALL strings compares through the lower()
    image; one with NO strings compiles binary (Mongo: collation
    never affects non-string comparisons); mixed lists and computed
    member arrays refuse by name — the needle's static type is not
    visible here, so a blanket elementwise lower() would stringify
    non-string members (the r7 bug class). A "string" member that is
    itself a field path (``"$f"``/``"$$v"``) counts as computed.
    Null semantics match the binary compile (``array_contains``:
    NULL needle → NULL, i.e. false in predicate position).
    """
    if not (isinstance(spec, list) and len(spec) == 2):
        raise PipelineError("$in requires [needle, array]")
    needle, members = spec
    if isinstance(members, list):
        lits = [
            m for m in members
            if isinstance(m, str) and not m.startswith("$")
        ]
        if len(lits) == len(members) and members:
            return F.array_contains(
                F.array(*[F.lit(_fold_lit(m)) for m in lits]),
                _fold_col(compile_expr(needle)),
            )
        if not any(isinstance(m, str) for m in members):
            return F.array_contains(
                F.array(*[compile_expr(m) for m in members]),
                compile_expr(needle),
            )
    raise PipelineError(
        "collation: $in over a mixed string/non-string or computed "
        "member array is not collation-rewritten; use a literal "
        "all-string (or no-string) member list, wrap operands in "
        "$toLower explicitly, or drop the collation")


def _compile_op(op: str, spec: Any) -> Column:
    if _ci() and op == "$in":
        return _ci_expr_in(spec)
    if _ci() and op in _CI_REFUSED_EXPR_OPS:
        raise PipelineError(
            f"collation: expression operator {op} is not collation-"
            "rewritten (it would compare strings binary under the "
            "requested case-insensitive collation); wrap string "
            "operands in $toLower explicitly, use $strcasecmp, or "
            "drop the collation")
    if op == "$toBool__internal":
        # internal marker emitted by _as_bool for $and/$or operands
        return compile_expr(spec).cast("boolean")
    if op == "$literal":
        return F.lit(spec)
    if (op in _DATE_PART_OPS and isinstance(spec, dict)
            and "date" in spec and set(spec) <= {"date", "timezone"}):
        # Mongo's object form {date, timezone}: extract the part from
        # the instant's WALL CLOCK in that zone (round-5 task 4)
        return _SIMPLE_UNARY[op](
            _tz_wall(compile_expr(spec["date"]), spec, op)
        )
    if op in _SIMPLE_UNARY and _SIMPLE_UNARY[op] is not None:
        [a] = _args(spec)
        return _SIMPLE_UNARY[op](compile_expr(a))
    if op == "$trim":
        return F.trim(compile_expr(spec["input"]))
    if op == "$add":
        return _variadic(lambda a, b: a + b, spec)
    if op == "$multiply":
        return _variadic(lambda a, b: a * b, spec)
    if op == "$subtract":
        a, b = spec
        return compile_expr(a) - compile_expr(b)
    if op == "$divide":
        a, b = spec
        return mongo_divide(compile_expr(a), compile_expr(b))
    if op == "$mod":
        a, b = spec
        return mongo_mod(compile_expr(a), compile_expr(b))
    if op in ("$bitAnd", "$bitOr", "$bitXor"):
        # Mongo 6.3 bitwise operators: variadic over int/long, null in
        # null out — Spark's bitwise Column ops are exact twins
        fns = {"$bitAnd": lambda a, b: a.bitwiseAND(b),
               "$bitOr": lambda a, b: a.bitwiseOR(b),
               "$bitXor": lambda a, b: a.bitwiseXOR(b)}
        return _variadic(fns[op], _args(spec))
    if op == "$bitNot":
        [a] = _args(spec)
        return F.bitwise_not(compile_expr(a))
    if op == "$pow":
        a, b = spec
        return F.pow(compile_expr(a), compile_expr(b))
    if op == "$round":
        a, n = spec if isinstance(spec, list) and len(spec) == 2 else (spec, 0)
        return F.round(compile_expr(a), n if isinstance(n, int) else 0)
    if op == "$concat":
        return F.concat(*[compile_expr(a) for a in spec])
    if op == "$split":
        s, sep = spec
        # Mongo $split is a literal delimiter; Spark split takes a
        # regex — quote it
        return F.split(compile_expr(s), re.escape(sep))
    if op == "$substrCP":
        s, start, length = spec
        return mongo_substr(compile_expr(s), start, length)
    if op in ("$indexOfCP", "$indexOfBytes"):
        # [string, substring, start?, end?] — offsets in code points
        # ($indexOfCP) or UTF-8 bytes ($indexOfBytes); the search
        # window is s[start:end), result is the match's start index in
        # the same unit, -1 when absent, null when the string is null.
        if not (isinstance(spec, list) and 2 <= len(spec) <= 4):
            raise PipelineError(f"{op} takes [string, substring, start?, end?]")
        s, sub, *rng = spec
        for r in rng:
            if isinstance(r, int) and r < 0:
                raise PipelineError(f"{op}: start/end must be non-negative")
        sc = compile_expr(s)
        if len(rng) == 0 and op == "$indexOfCP":
            return mongo_index_of(sc, compile_expr(sub))
        start = compile_expr(rng[0]) if rng else F.lit(0)
        if op == "$indexOfBytes":
            unit_len, base = F.octet_length(sc), sc.cast("binary")
        else:
            unit_len, base = F.length(sc), sc
        end = compile_expr(rng[1]) if len(rng) > 1 else unit_len
        # a match must lie wholly inside the window (Mongo searches
        # the s[start:end) slice); byte windows slice the UTF-8
        # encoding so offsets stay byte-true. Caveat: a byte `start`
        # landing MID-codepoint decodes the orphan bytes as U+FFFD
        # (3 UTF-8 bytes each), skewing reported indexes for that
        # degenerate input — codepoint-aligned offsets are exact.
        window = F.substring(base, start + 1, F.greatest(end - start, F.lit(0)))
        if op == "$indexOfBytes":
            window = window.cast("string")
        idx = F.instr(window, compile_expr(sub))
        if op == "$indexOfBytes":
            pos = start + F.octet_length(F.substring(window, 1, idx - 1))
        else:
            pos = start + idx - 1
        return F.when(idx == 0, -1).otherwise(pos)
    if op in ("$substr", "$substrBytes"):
        # byte-offset substring over the UTF-8 encoding ($substr is
        # Mongo's deprecated alias of $substrBytes); a slice landing
        # mid-codepoint yields replacement characters rather than
        # Mongo's error (the typed engine has no per-row error channel).
        # Negative LITERAL length (r7 advice fix): deprecated $substr
        # returns the remainder of the string; $substrBytes errors in
        # Mongo — refuse at compile time. Non-literal lengths keep
        # F.substring's empty-string-on-negative (documented in USAGE).
        s, start, length = spec
        start_c = compile_expr(start)
        bin_s = compile_expr(s).cast("binary")
        if isinstance(length, (int, float)) and not isinstance(length, bool) \
                and length < 0:
            if op == "$substrBytes":
                raise PipelineError(
                    "$substrBytes: length must be non-negative (Mongo "
                    "errors on a negative byte count; use $substr for "
                    "remainder-of-string)")
            return F.substring(
                bin_s, start_c + 1,
                F.greatest(F.octet_length(bin_s) - start_c, F.lit(0)),
            ).cast("string")
        return F.substring(
            bin_s, start_c + 1, compile_expr(length)
        ).cast("string")
    if op in _CMP:
        a, b = spec
        return _CMP[op](compile_expr(a), compile_expr(b))
    if op == "$cmp":
        a, b = (compile_expr(x) for x in spec)
        return (
            F.when(a.isNull() & b.isNull(), 0)
            .when(a.isNull(), -1).when(b.isNull(), 1)  # null sorts first
            .when(a < b, -1).when(a > b, 1).otherwise(0)
        )
    if op == "$and":
        return _variadic(lambda a, b: a & b, [_as_bool(s) for s in spec])
    if op == "$or":
        return _variadic(lambda a, b: a | b, [_as_bool(s) for s in spec])
    if op == "$in":
        # Typed-engine delta: Mongo's dynamic typing makes a
        # cross-type $in simply false; Spark requires the needle to
        # match the array element type (analysis error otherwise).
        needle, arr = spec
        return F.array_contains(compile_expr(arr), compile_expr(needle))
    if op == "$cond":
        if isinstance(spec, dict):
            pred, then, els = spec["if"], spec["then"], spec["else"]
        else:
            pred, then, els = spec
        return mongo_cond(
            compile_expr(pred).cast("boolean"), compile_expr(then), compile_expr(els)
        )
    if op == "$ifNull":
        # variadic since MongoDB 5.0: first non-null of N inputs, the
        # last argument being the replacement
        if not (isinstance(spec, list) and len(spec) >= 2):
            raise PipelineError("$ifNull requires at least two arguments")
        return F.coalesce(*[compile_expr(a) for a in spec])
    if op == "$strLenBytes":
        [a] = _args(spec)
        return F.octet_length(compile_expr(a))
    if op == "$strcasecmp":
        # Mongo coerces a null operand to "" (so null vs "abc" is -1,
        # not NULL) — coalesce before comparing
        a, b = (
            F.coalesce(F.lower(compile_expr(x)), F.lit("")) for x in spec
        )
        return F.when(a < b, -1).when(a > b, 1).otherwise(0)
    if op in ("$isNumber", "$isArray"):
        # typed engine: the answer is a plan-time property of the
        # expression's (static) type, surfaced via typeof()
        [a] = _args(spec)
        t = F.call_function("typeof", compile_expr(a))
        if op == "$isArray":
            return t.startswith("array")
        return (
            t.isin("tinyint", "smallint", "int", "bigint", "float", "double")
            | t.startswith("decimal")
        )
    if op == "$switch":
        branches = [
            (compile_expr(b["case"]).cast("boolean"), compile_expr(b["then"]))
            for b in spec["branches"]
        ]
        return mongo_switch(branches, compile_expr(spec.get("default")))
    if op == "$arrayElemAt":
        # 0-based (negative = from the end); an out-of-range index is
        # Mongo "missing" ≡ null — try_element_at, NOT element_at,
        # which throws ArrayIndexOutOfBounds under ANSI (fuzz find #5)
        arr, idx = spec
        if isinstance(idx, int):
            idx_c = F.lit(idx + 1 if idx >= 0 else idx)
        else:
            i = compile_expr(idx)
            idx_c = F.when(i >= 0, i + F.lit(1)).otherwise(i)
        return F.try_element_at(compile_expr(arr), idx_c)
    if op == "$concatArrays":
        return F.concat(*[compile_expr(a) for a in spec])
    if op == "$setUnion":
        return F.array_distinct(F.concat(*[compile_expr(a) for a in spec]))
    if op == "$setIntersection":
        return _variadic(F.array_intersect, spec)
    if op == "$slice":
        arr, n = spec
        if not (isinstance(n, int) and n > 0):
            raise PipelineError("$slice supports positive literal n only")
        return F.slice(compile_expr(arr), 1, n)
    if op == "$dateTrunc":
        tz = _tz_literal(spec, op)
        unit = spec["unit"]
        if unit not in _TRUNC_UNITS:
            raise PipelineError(
                f"$dateTrunc: unsupported unit {unit!r} "
                f"(supported: {sorted(_TRUNC_UNITS)})"
            )
        bin_size = spec.get("binSize", 1)
        if not (isinstance(bin_size, int) and not isinstance(bin_size, bool)
                and bin_size >= 1):
            raise PipelineError(
                "$dateTrunc: binSize must be a positive integer literal"
            )
        sow = str(spec.get("startOfWeek", "sunday")).lower()
        if unit == "week" and sow not in _TRUNC_WEEK_ANCHOR:
            raise PipelineError(f"$dateTrunc: unknown startOfWeek {sow!r}")
        c = compile_expr(spec["date"])
        if bin_size == 1 and unit != "week":
            def inner(x):
                return F.date_trunc(unit, x)
        else:
            # binSize bins (and week-unit truncation, whose boundary
            # is startOfWeek — Mongo default SUNDAY, not date_trunc's
            # Monday) anchor at Mongo's 2000-01-01 reference
            def inner(x):
                return _date_trunc_binned(x, unit, bin_size, sow)
        if tz is None:
            return inner(c)
        # truncate at the ZONE's local boundaries, return the UTC
        # instant of that local boundary (Mongo's contract). The
        # round-trip is exact except inside a fall-back DST overlap,
        # where the boundary itself is ambiguous.
        return F.to_utc_timestamp(inner(F.from_utc_timestamp(c, tz)), tz)
    if op in ("$dateAdd", "$dateSubtract"):
        amount = compile_expr(spec["amount"])
        if op == "$dateSubtract":
            amount = -amount
        tz = _tz_literal(spec, op)
        start = compile_expr(spec["startDate"])
        if tz is None:
            return F.timestamp_add(spec["unit"].upper(), amount, start)
        # day-and-coarser arithmetic is WALL-CLOCK in the zone (adding
        # 1 day across a DST change keeps the local hour — 23h or 25h
        # of elapsed time, exactly Mongo's documented behavior)
        return F.to_utc_timestamp(
            F.timestamp_add(
                spec["unit"].upper(), amount, F.from_utc_timestamp(start, tz)
            ),
            tz,
        )
    if op == "$dateDiff":
        # Mongo counts unit-BOUNDARY CROSSINGS (23:59 → 00:01 next day
        # is 1 day); Spark's timestamp_diff counts complete elapsed
        # units. Truncating both endpoints to the unit first makes the
        # elapsed count equal the crossing count.
        unit = spec["unit"].lower()
        start, end = compile_expr(spec["startDate"]), compile_expr(spec["endDate"])
        # timezone: boundary crossings are counted on the zone's local
        # clock — shift both endpoints to wall time first
        start, end = _tz_wall(start, spec, op), _tz_wall(end, spec, op)
        if unit == "week":
            # week boundaries depend on startOfWeek (Mongo default
            # Sunday; Spark date_trunc truncates to Monday) — count
            # whole weeks since an anchor date that falls on that day
            anchors = {
                "sunday": "1970-01-04", "monday": "1970-01-05",
                "tuesday": "1970-01-06", "wednesday": "1970-01-07",
                "thursday": "1970-01-01", "friday": "1970-01-02",
                "saturday": "1970-01-03",
            }
            sow = str(spec.get("startOfWeek", "sunday")).lower()
            if sow not in anchors:
                raise PipelineError(f"$dateDiff: unknown startOfWeek {sow!r}")
            a = F.lit(anchors[sow]).cast("date")
            return (
                F.floor(F.datediff(end.cast("date"), a) / 7)
                - F.floor(F.datediff(start.cast("date"), a) / 7)
            ).cast("long")
        return F.timestamp_diff(
            unit.upper(), F.date_trunc(unit, start), F.date_trunc(unit, end)
        )
    if op == "$setDifference":
        a, b = spec
        return F.array_except(compile_expr(a), compile_expr(b))
    if op in ("$firstN", "$lastN", "$minN", "$maxN") and isinstance(spec, dict) \
            and "input" in spec and "n" in spec:
        # ARRAY-EXPRESSION forms (Mongo 5.2) — the same names are
        # $group accumulators, compiled separately by context
        n = spec["n"]
        if not (isinstance(n, int) and n > 0):
            raise PipelineError(f"{op} requires a positive literal n")
        arr = compile_expr(spec["input"])
        if op == "$firstN":
            return F.slice(arr, 1, n)
        if op == "$lastN":
            return F.when(F.size(arr) <= n, arr).otherwise(F.slice(arr, -n, n))
        if _ci():
            # $minN/$maxN COMPARE elements — string-typed arguments
            # refuse under CI like the accumulator forms (ADVICE r10);
            # the recompile thunk lets lambda-variable arguments
            # resolve their types in probe mode (ADVICE r11)
            _ci_refuse_string_extremum(
                op, arr, lambda: compile_expr(spec["input"]))
        ordered = F.sort_array(arr, asc=op == "$minN")
        return F.slice(ordered, 1, n)
    if op in ("$max", "$min", "$sum", "$avg", "$stdDevPop", "$stdDevSamp"):
        # EXPRESSION forms (the same names are $group accumulators and
        # window functions, compiled separately by context). Mongo: a
        # single operand that resolves to an array aggregates its
        # elements; two-plus operands aggregate the operand values.
        # Nulls are skipped throughout. The typed engine requires the
        # single-operand form to be array-typed (Mongo's scalar
        # identity form — $max of one number — is trivially $ifNull);
        # a non-array operand fails Spark analysis loudly.
        if isinstance(spec, list) and len(spec) >= 2:
            def _rederive():
                return F.array(*[compile_expr(a) for a in spec])
        else:
            [a] = _args(spec)

            def _rederive():
                return compile_expr(a)
        arr = _rederive()
        vals = F.filter(arr, lambda x: x.isNotNull())
        if op in ("$max", "$min"):
            if _ci():
                # expression extrema COMPARE values — string-typed
                # arguments refuse under CI like the accumulator forms
                # (ADVICE r10); the recompile thunk lets lambda-
                # variable arguments resolve their types in probe
                # mode (ADVICE r11)
                _ci_refuse_string_extremum(op, arr, _rederive)
            return F.array_max(vals) if op == "$max" else F.array_min(vals)
        n = F.size(vals)
        # typed zero: bigint for integral element types, double for
        # fractional — keeps integer sums exact (the 2^53 lesson) while
        # following Spark's numeric promotion. F.get is OOB-null-safe
        # under ANSI mode (element_at is not).
        zero = F.get(vals, 0) * F.lit(0).cast("bigint")
        total = F.aggregate(vals, zero, lambda acc, x: acc + x)
        if op == "$sum":
            # Mongo $sum over empty/null input is 0, not null
            return F.coalesce(total, F.lit(0))
        mean = total / n
        if op == "$avg":
            return F.when(n > 0, mean)
        # single-pass E[x²] − mean² (then ·n/(n−1) for the sample
        # form). The naive Σ(x−mean)² would embed `mean` — itself an
        # aggregate over vals — INSIDE the per-element lambda body,
        # which Spark re-evaluates per element: O(len²) per row (this
        # was a measured 12.7 s/5k-docs hotspot). The price is the
        # usual cancellation hazard when |mean| ≫ stddev; greatest(…,0)
        # clamps the negative-epsilon case.
        sq = F.aggregate(
            vals, F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
        if op == "$stdDevPop":
            return F.when(
                n > 0, F.sqrt(F.greatest(sq / n - mean * mean, F.lit(0.0)))
            )
        return F.when(
            n > 1,
            F.sqrt(F.greatest((sq - mean * mean * n) / (n - 1), F.lit(0.0))),
        )
    if op in ("$first", "$last"):
        # EXPRESSION forms (Mongo 4.4): first/last element of an array
        # operand; null/empty array -> null. F.get is OOB-null-safe.
        [a] = _args(spec)
        arr = compile_expr(a)
        if op == "$first":
            return F.get(arr, 0)
        return F.get(arr, F.size(arr) - 1)
    if op in ("$median", "$percentile"):
        # EXPRESSION forms (Mongo 7.0) over an array operand. Matches
        # the engine's accumulator semantics (F.median/F.percentile):
        # linear interpolation between closest ranks over the sorted
        # non-null elements — Mongo's t-digest "approximate" method
        # converges to the same value; `method` is accepted and
        # ignored, like the accumulator path.
        if not (isinstance(spec, dict) and "input" in spec):
            raise PipelineError(f"{op} requires {{input, ...}}")
        vals = F.array_sort(
            F.filter(compile_expr(spec["input"]), lambda x: x.isNotNull())
        )
        # _let1: bind the sorted array ONCE — _array_percentile
        # references its input ~5 times, and each reference would
        # otherwise duplicate the whole sort+filter subtree (HOF
        # subtrees are excluded from Spark's subexpression
        # elimination; measured 0.75 s → ~0.2 s per column at sf0.1)
        if op == "$median":
            return _let1(vals, lambda v: _array_percentile(v, 0.5))
        ps = _validate_percentiles(spec.get("p"))
        return _let1(
            vals, lambda v: F.array(*[_array_percentile(v, p) for p in ps])
        )
    if op == "$type":
        # BSON type name from the STATIC Spark type (typeof), with the
        # one runtime case Mongo distinguishes: a null value is "null"
        [a] = _args(spec)
        c = compile_expr(a)
        t = F.call_function("typeof", c)
        return (
            F.when(c.isNull(), "null")
            .when(t.isin("tinyint", "smallint", "int"), "int")
            .when(t == "bigint", "long")
            .when(t.isin("float", "double"), "double")
            .when(t.startswith("decimal"), "decimal")
            .when(t == "string", "string")
            .when(t == "boolean", "bool")
            .when(t.isin("timestamp", "timestamp_ntz", "date"), "date")
            .when(t == "binary", "binData")
            .when(t.startswith("array"), "array")
            .when(t.startswith("struct") | t.startswith("map"), "object")
            .otherwise(t)
        )
    if op == "$binarySize":
        [a] = _args(spec)
        return F.octet_length(compile_expr(a))
    if op == "$mergeObjects":
        # map-typed documents (the typed engine's dynamic-key object);
        # later arguments win on key conflicts, like Mongo. Built as a
        # pairwise fold that drops overridden keys BEFORE concat, so it
        # never trips spark.sql.mapKeyDedupPolicy. Struct inputs are
        # statically known — merge them with $setField/projection.
        def _merge(a: Column, b: Column) -> Column:
            keep = F.map_filter(a, lambda k, v: ~F.map_contains_key(b, k))
            return F.map_concat(keep, b)

        return _variadic(_merge, _args(spec))
    # -- array higher-order functions. The lambda body compiles with
    # the loop variable bound in _VAR_SCOPE, so nested $map/$filter
    # shadow correctly. Spark evaluates HOF lambdas interpreted
    # per-element — fine for user-facing document reshaping; the
    # engine's own hot paths (shingles, signatures) use the
    # explode+codegen shapes instead (operators/dedup.py).
    if op == "$map":
        var = spec.get("as", "this")
        vt = _hof_elem_type(spec["input"])

        def _map_body(x: Column) -> Column:
            with _bind({var: vt}, **{var: x}):
                return compile_expr(spec["in"])

        return F.transform(compile_expr(spec["input"]), _map_body)
    if op == "$filter":
        var = spec.get("as", "this")
        vt = _hof_elem_type(spec["input"])

        def _filter_body(x: Column) -> Column:
            with _bind({var: vt}, **{var: x}):
                return compile_expr(spec["cond"]).cast("boolean")

        return F.filter(compile_expr(spec["input"]), _filter_body)
    if op == "$reduce":
        et = _hof_elem_type(spec["input"])
        at = (_probe_recompile_dt(lambda: compile_expr(spec["initialValue"]))
              if _ci() else None)

        def _reduce_body(acc: Column, x: Column) -> Column:
            with _bind({"value": at, "this": et}, value=acc, this=x):
                return compile_expr(spec["in"])

        return F.aggregate(
            compile_expr(spec["input"]),
            compile_expr(spec["initialValue"]),
            _reduce_body,
        )
    if op == "$let":
        bound = {k: compile_expr(v) for k, v in spec["vars"].items()}
        types = ({k: _probe_recompile_dt(lambda v=v: compile_expr(v))
                  for k, v in spec["vars"].items()}
                 if _ci() else None)
        with _bind(types, **bound):
            return compile_expr(spec["in"])
    if op == "$regexMatch":
        _literal_regex(op, spec.get("regex"))
        return compile_expr(spec["input"]).rlike(spec["regex"])
    if op in ("$regexFind", "$regexFindAll"):
        # literal regex: capture-group COUNT must be known at plan time
        # to type the captures array. Typed-engine deltas, documented:
        # a non-participating optional group yields '' (Mongo: null),
        # and $regexFindAll carries no per-match idx (positions of
        # later matches are not recoverable from Spark's regexp_*).
        pattern = spec.get("regex")
        _literal_regex(op, pattern)
        ngroups = re.compile(pattern).groups
        inp = compile_expr(spec["input"])

        def _captures(target: Column) -> Column:
            return F.array(
                *[F.regexp_extract(target, pattern, g) for g in range(1, ngroups + 1)]
            )

        if op == "$regexFind":
            full = F.regexp_substr(inp, F.lit(pattern))  # null when no match
            hit = F.struct(
                full.alias("match"),
                (F.regexp_instr(inp, F.lit(pattern)) - 1).alias("idx"),
                _captures(inp).alias("captures"),
            )
            return F.when(full.isNotNull(), hit)
        return F.transform(
            F.regexp_extract_all(inp, F.lit(pattern), F.lit(0)),
            lambda m: F.struct(m.alias("match"), _captures(m).alias("captures")),
        )
    if op in ("$ltrim", "$rtrim"):
        inp = compile_expr(spec["input"])
        chars = spec.get("chars")
        if chars is None:
            return (F.ltrim if op == "$ltrim" else F.rtrim)(inp)
        if not isinstance(chars, str):
            raise PipelineError(f"{op}: chars must be a literal string")
        cls = "".join(re.escape(ch) for ch in chars)
        pat = f"^[{cls}]+" if op == "$ltrim" else f"[{cls}]+$"
        return F.regexp_replace(inp, pat, "")
    if op == "$replaceAll":
        return F.replace(
            compile_expr(spec["input"]),
            compile_expr(spec["find"]),
            compile_expr(spec["replacement"]),
        )
    if op == "$replaceOne":
        s = compile_expr(spec["input"])
        f_ = compile_expr(spec["find"])
        r_ = compile_expr(spec["replacement"])
        pos = F.position(f_, s)  # 1-based; 0 = not found
        replaced = F.concat(
            s.substr(F.lit(1), pos - 1),
            r_,
            s.substr(pos + F.length(f_), F.length(s)),
        )
        return F.when(pos > 0, replaced).otherwise(s)
    if op == "$sortArray":
        by = spec.get("sortBy")
        if by not in (1, -1):
            raise PipelineError(
                "$sortArray supports sortBy: 1|-1 (whole-element order); "
                "field-wise sort documents are not supported"
            )
        return F.sort_array(compile_expr(spec["input"]), asc=by == 1)
    if op == "$indexOfArray":
        arr, needle = spec
        return (F.array_position(compile_expr(arr), compile_expr(needle)) - 1).cast(
            "int"
        )
    if op == "$range":
        start, end = spec[0], spec[1]
        step = spec[2] if len(spec) > 2 else 1
        if not (isinstance(step, int) and step != 0):
            raise PipelineError("$range requires a literal nonzero integer step")
        s, e = compile_expr(start).cast("int"), compile_expr(end).cast("int")
        # Mongo's range is half-open [start, end); sequence() is
        # inclusive and infers a NEGATIVE step when start > stop, so
        # the empty case must short-circuit explicitly
        empty = F.slice(F.sequence(s, s), 1, 0)
        if step > 0:
            return F.when(s < e, F.sequence(s, e - 1, F.lit(step))).otherwise(empty)
        return F.when(s > e, F.sequence(s, e + 1, F.lit(step))).otherwise(empty)
    if op == "$zip":
        arrs = [compile_expr(a) for a in spec["inputs"]]
        longest = bool(spec.get("useLongestLength", False))
        defaults = spec.get("defaults")
        if defaults is not None and not longest:
            raise PipelineError("$zip: defaults requires useLongestLength: true")
        sizes = [F.size(a) for a in arrs]
        n = F.greatest(*sizes) if longest else F.least(*sizes)

        def _tuple_at(i: Column) -> Column:
            parts = []
            for j, a in enumerate(arrs):
                v = F.get(a, i)  # 0-based, null past the end
                if defaults is not None:
                    v = F.coalesce(v, F.lit(defaults[j]))
                parts.append(v)
            return F.array(*parts)

        # sequence(0, n-1) would flip to a DESCENDING sequence at n=0,
        # so the empty case short-circuits; the empty literal is built
        # by slicing a one-tuple array so its element type matches
        return F.when(
            n > 0, F.transform(F.sequence(F.lit(0), n - 1), _tuple_at)
        ).otherwise(F.slice(F.array(_tuple_at(F.lit(0))), 1, 0))
    if op == "$setEquals":
        norm = [F.array_sort(F.array_distinct(compile_expr(a))) for a in spec]
        out = F.lit(True)
        for other in norm[1:]:
            out = out & norm[0].eqNullSafe(other)
        return out
    if op == "$setIsSubset":
        a, b = spec
        return F.size(F.array_except(compile_expr(a), compile_expr(b))) == 0
    if op == "$getField":
        if isinstance(spec, str):
            raise PipelineError(
                "$getField shorthand reads $$CURRENT; name the input explicitly"
            )
        if not isinstance(spec.get("field"), str):
            raise PipelineError("$getField requires a literal field name")
        return compile_expr(spec["input"]).getItem(spec["field"])
    if op == "$setField":
        if not isinstance(spec.get("field"), str):
            raise PipelineError("$setField requires a literal field name")
        return compile_expr(spec["input"]).withField(
            spec["field"], compile_expr(spec["value"])
        )
    if op == "$unsetField":
        # typed-engine delta: unsetting a field absent from the static
        # struct schema fails Spark analysis loudly (Mongo no-ops) —
        # schemas are static here, so the path is knowable at plan time
        if not isinstance(spec.get("field"), str):
            raise PipelineError("$unsetField requires a literal field name")
        return compile_expr(spec["input"]).dropFields(spec["field"])
    if op == "$convert":
        to_types = {
            "int": "int", "long": "long", "double": "double",
            "decimal": "decimal(38,10)", "string": "string",
            "bool": "boolean", "date": "timestamp",
        }
        to = spec.get("to")
        if to not in to_types:
            raise PipelineError(f"$convert: unsupported target type {to!r}")
        c = compile_expr(spec["input"])
        conv = c.try_cast(to_types[to])
        if "onError" in spec:
            conv = F.when(
                c.isNotNull() & conv.isNull(), compile_expr(spec["onError"])
            ).otherwise(conv)
        if "onNull" in spec:
            conv = F.when(c.isNull(), compile_expr(spec["onNull"])).otherwise(conv)
        return conv
    if op == "$atan2":
        a, b = spec
        return F.atan2(compile_expr(a), compile_expr(b))
    if op == "$log":
        x, base = spec
        # Spark's two-arg log IS ln(x)/ln(base) (Logarithm) — same
        # arithmetic, so column bases cost nothing extra
        return F.log(compile_expr(x)) / F.log(compile_expr(base))
    if op == "$trunc":
        x, place = spec if isinstance(spec, list) and len(spec) == 2 else (spec, 0)
        if not isinstance(place, int):
            raise PipelineError("$trunc requires a literal integer place")
        c = compile_expr(x)
        f = F.lit(float(10**place))
        # toward zero at `place` decimal digits (floor/ceil by sign)
        return F.when(c >= 0, F.floor(c * f) / f).otherwise(F.ceil(c * f) / f)
    if op == "$dateFromParts":
        tz = _tz_literal(spec, op)

        def part(name: str, default: int) -> Column:
            return (
                compile_expr(spec[name]) if name in spec else F.lit(default)
            ).cast("int")

        # Mongo CARRIES out-of-range parts (month 13 → January next
        # year, day 0 → last day of the previous month, hour 24 → next
        # day): build from an anchored January-1st and add each part as
        # an offset, which is exactly the carrying arithmetic — a
        # direct make_timestamp would throw under ANSI instead.
        if "isoWeekYear" in spec:
            mixed = {"year", "month", "day"} & spec.keys()
            if mixed:
                # Mongo errors on mixing ISO week-date parts with
                # natural date parts; silently dropping them would
                # violate the refuse-silent-drops convention
                raise PipelineError(
                    "$dateFromParts: cannot mix isoWeekYear with natural "
                    f"date parts {sorted(mixed)}"
                )
            # ISO week-date form: Jan 4 is always in ISO week 1; back
            # up to that week's Monday, then offset by weeks and days
            jan4 = F.make_timestamp(
                part("isoWeekYear", 1970), F.lit(1), F.lit(4),
                F.lit(0), F.lit(0), F.lit(0),
            )
            ts = F.timestamp_add("DAY", -F.weekday(jan4), jan4)
            offsets = [
                ("WEEK", part("isoWeek", 1) - 1),
                ("DAY", part("isoDayOfWeek", 1) - 1),
            ]
        else:
            iso_only = {"isoWeek", "isoDayOfWeek"} & spec.keys()
            if iso_only:
                raise PipelineError(
                    f"$dateFromParts: {sorted(iso_only)} require isoWeekYear"
                )
            ts = F.make_timestamp(
                part("year", 1970), F.lit(1), F.lit(1),
                F.lit(0), F.lit(0), F.lit(0),
            )
            offsets = [
                ("MONTH", part("month", 1) - 1),
                ("DAY", part("day", 1) - 1),
            ]
        offsets += [
            ("HOUR", part("hour", 0)),
            ("MINUTE", part("minute", 0)),
            ("SECOND", part("second", 0)),
            ("MILLISECOND", part("millisecond", 0)),
        ]
        for unit, amount in offsets:
            ts = F.timestamp_add(unit, amount, ts)
        # timezone: the parts describe the zone's WALL CLOCK; the
        # result is the corresponding UTC instant
        return ts if tz is None else F.to_utc_timestamp(ts, tz)
    if op == "$dateToParts":
        c = _tz_wall(compile_expr(spec["date"]), spec, op)
        time_parts = [
            F.hour(c).alias("hour"), F.minute(c).alias("minute"),
            F.second(c).alias("second"),
            F.date_format(c, "SSS").cast("int").alias("millisecond"),
        ]
        if spec.get("iso8601"):
            return F.struct(
                _SIMPLE_UNARY["$isoWeekYear"](c).alias("isoWeekYear"),
                F.weekofyear(c).alias("isoWeek"),
                (F.weekday(c) + 1).alias("isoDayOfWeek"),
                *time_parts,
            )
        return F.struct(
            F.year(c).alias("year"), F.month(c).alias("month"),
            F.dayofmonth(c).alias("day"), *time_parts,
        )
    if op == "$dateFromString":
        tz = _tz_literal(spec, op)
        c = compile_expr(spec["dateString"])
        parsed = (
            F.try_to_timestamp(c, F.lit(_mongo_date_format(spec["format"])))
            if "format" in spec
            else c.try_cast("timestamp")
        )
        if tz is not None:
            # the string is the zone's wall clock (Mongo errors when
            # the string carries its own offset AND timezone is given;
            # offset-bearing formats are not in the supported set)
            parsed = F.to_utc_timestamp(parsed, tz)
        if "onError" in spec:
            parsed = F.when(
                c.isNotNull() & parsed.isNull(), compile_expr(spec["onError"])
            ).otherwise(parsed)
        if "onNull" in spec:
            parsed = F.when(c.isNull(), compile_expr(spec["onNull"])).otherwise(
                parsed
            )
        return parsed
    if op == "$dateToString":
        c = compile_expr(spec["date"])
        wall = _tz_wall(c, spec, op)
        out = _date_to_string(
            spec.get("format", "%Y-%m-%dT%H:%M:%S.%LZ"), wall, c,
            _tz_literal(spec, op),
        )
        if "onNull" in spec:
            out = F.when(c.isNull(), compile_expr(spec["onNull"])).otherwise(out)
        return out
    if op in _REFUSED_EXPR_OPS:
        raise PipelineError(
            f"{op} is unsupported by design: {_REFUSED_EXPR_OPS[op]}"
        )
    raise PipelineError(f"unsupported expression operator {op!r}")


#: operators outside the typed engine's model, refused BY NAME with the
#: reason and the supported alternative — completing the Mongo 7.0
#: expression inventory: everything is either compiled or named here.
_REFUSED_EXPR_OPS = {
    "$function": "server-side JavaScript does not run on Spark; express "
                 "custom per-document logic as pipeline expressions, or as "
                 "an Arrow mapInPandas stage for genuinely imperative code",
    "$accumulator": "server-side JavaScript accumulators do not run on "
                    "Spark; the full native accumulator inventory plus "
                    "applyInPandas covers custom aggregation",
    "$rand": "per-row nondeterminism breaks the engine's reproducible-plan "
             "policy; use $sampleRate / $sample (deterministic hash-order "
             "sampling) instead",
    "$toObjectId": "ObjectId is a BSON type the typed engine does not "
                   "model; keep document ids as string or long",
    "$toHashedIndexKey": "mongod's internal index-key hash is not "
                         "reproducible outside MongoDB; use xxhash64 via "
                         "the engine's hash expressions for stable keys",
    "$tsIncrement": "the internal BSON timestamp type is not modeled; use "
                    "TimestampType with the date operator surface",
    "$tsSecond": "the internal BSON timestamp type is not modeled; use "
                 "TimestampType with the date operator surface",
    "$bsonSize": "documents are typed structs, not BSON; $binarySize of a "
                 "serialized column (e.g. to_json) approximates object size",
    "$meta": "score metadata pseudo-fields do not exist in the typed "
             "engine; the $text surface exposes scores as explicit columns",
}


def _let1(value: Column, body: Callable[[Column], Column]) -> Column:
    """Expression-level let-binding: evaluate ``value`` once and let
    ``body`` reference it many times — a one-element ``transform``
    binds it to a lambda variable (the array constructor evaluates its
    element exactly once). Spark has no native let; without this,
    every reference duplicates the full subtree because HOF-bearing
    expressions are excluded from subexpression elimination."""
    return F.get(F.transform(F.array(value), body), 0)


def _array_percentile(vals: Column, p: float) -> Column:
    """Interpolated percentile over a SORTED non-null array — the
    closest-ranks linear interpolation F.median/F.percentile use, so
    the expression, accumulator and window forms agree. Shared by the
    $median/$percentile expression forms and their window forms (Spark
    refuses median()/percentile() aggregates over ordered/framed
    windows, so those compile to collect_list + this arithmetic)."""
    n = F.size(vals)
    rank = (n - 1).cast("double") * F.lit(float(p))
    lo = F.floor(rank).cast("int")
    lo_v = F.get(vals, lo).cast("double")
    hi_v = F.coalesce(F.get(vals, lo + 1).cast("double"), lo_v)
    return F.when(n > 0, lo_v + (rank - lo) * (hi_v - lo_v))


def _validate_percentiles(ps: Any) -> list:
    if not (isinstance(ps, list) and ps
            and all(isinstance(p, (int, float)) and not isinstance(p, bool)
                    and 0 <= p <= 1 for p in ps)):
        raise PipelineError("$percentile: p must be literals in [0, 1]")
    return ps


def _as_bool(spec: Any):
    # wrap so _variadic compiles each operand then casts to boolean
    return {"$toBool__internal": spec}


def _literal_regex(op: str, pattern: Any) -> None:
    """Regex args must be plan-time literals (capture-group count types
    the output; Spark rlike wants a literal anyway). A string starting
    with '$' is a Mongo field PATH, not a literal — refuse it rather
    than match the path text."""
    if not isinstance(pattern, str) or pattern.startswith("$"):
        raise PipelineError(f"{op} requires a literal regex")


# ---------------------------------------------------------------------------
# $match query language: {field: value|{$op: v}}, $and/$or/$nor, $expr
# ---------------------------------------------------------------------------

_MATCH_OPS = {
    "$gt": lambda c, v: c > F.lit(v),
    "$gte": lambda c, v: c >= F.lit(v),
    "$lt": lambda c, v: c < F.lit(v),
    "$lte": lambda c, v: c <= F.lit(v),
    "$eq": lambda c, v: c.isNull() if v is None else c == F.lit(v),
    "$ne": lambda c, v: mongo_ne(c, F.lit(v)),
    # Mongo: a null in the $in list matches docs where the field is
    # null OR missing; $nin with null excludes them. Spark's isin is
    # null-rejecting, so the null member becomes an explicit isNull
    # branch (and $nin's missing-matches contract adds isNull back
    # only when null is NOT in the list).
    "$in": lambda c, v: (
        (c.isin(*[x for x in v if x is not None]) if any(
            x is not None for x in v) else F.lit(False)) | c.isNull()
        if None in v else c.isin(*v)
    ),
    "$nin": lambda c, v: (
        (~c.isin(*[x for x in v if x is not None]) if any(
            x is not None for x in v) else F.lit(True)) & c.isNotNull()
        if None in v
        else ~c.isin(*v) | c.isNull()
    ),
    "$exists": lambda c, v: c.isNotNull() if v else c.isNull(),
    "$size": lambda c, v: F.size(c) == v,
    "$all": lambda c, v: F.size(
        F.array_intersect(c, F.array(*[F.lit(x) for x in v]))
    ) == len(v),
    "$regex": lambda c, v: c.rlike(v),
    "$mod": lambda c, v: (c % v[0]) == v[1],
}


def compile_match(query: dict, schema=None) -> Column:
    """Compile a $match document to a boolean Column.

    ``schema`` (the source StructType, passed by the stage dispatch)
    enables Mongo's MULTIKEY semantics for dotted paths that cross an
    array-of-documents boundary: ``{"subs.k": 5}`` matches when ANY
    element matches, each operator clause distributes independently
    over the array (Mongo: ``{$gt: 5, $lt: 3}`` may be satisfied by
    DIFFERENT elements), and ``$not`` / ``$exists: false`` negate the
    whole traversal (NO element matches / has the field). Without a
    schema the path compiles as a plain column reference, exactly as
    before.
    """
    preds: list[Column] = []
    for key, val in query.items():
        if key == "$and":
            preds.append(_variadic_and(
                [compile_match(q, schema) for q in val]))
        elif key == "$or":
            preds.append(_variadic_or(
                [compile_match(q, schema) for q in val]))
        elif key == "$nor":
            # none of the clauses match — null-safe like $not: a
            # clause evaluating NULL (null field) counts as non-match
            preds.append(~F.coalesce(
                _variadic_or([compile_match(q, schema) for q in val]),
                F.lit(False),
            ))
        elif key == "$expr":
            # under a CI collation the expression compiles with the
            # SAME per-operator guards as $project/$addFields:
            # comparison operators refuse by name in _compile_op, $in
            # takes the _ci_expr_in lower()-image rewrite (r10) —
            # the former blanket $expr refusal was strictly coarser
            preds.append(compile_expr(val).cast("boolean"))
        elif key == "$sampleRate":
            if not (isinstance(val, (int, float)) and 0 <= val <= 1):
                raise PipelineError("$sampleRate requires a literal in [0, 1]")
            # engine sampling policy (same as $sample): DETERMINISTIC
            # hash order instead of Mongo's rand() — repeatable across
            # runs and partitionings, which the oracle gate requires
            bucket = F.pmod(F.xxhash64(F.struct("*"), F.lit(77)), F.lit(1_000_000))
            preds.append(bucket < F.lit(int(round(val * 1_000_000))))
        elif key.startswith("$"):
            raise PipelineError(f"unsupported match operator {key!r}")
        elif schema is not None and "." in key and _crosses_doc_array(schema, key):
            preds.append(_multikey_match(schema, key, val))
        else:
            preds.append(_field_match(F.col(key), val))
    return _variadic_and(preds) if preds else F.lit(True)


def _crosses_doc_array(schema, path: str) -> bool:
    """Does a dotted path traverse an array-of-documents boundary
    before its final segment?"""
    from pyspark.sql.types import ArrayType, StructType

    t = schema
    segs = path.split(".")
    for seg in segs[:-1]:
        if isinstance(t, ArrayType):
            t = t.elementType
        if not (isinstance(t, StructType) and seg in t.fieldNames()):
            return False
        t = t[seg].dataType
        if isinstance(t, ArrayType):
            return True
    return False


def _traverse_multikey(schema, path: str, leaf_pred) -> Column:
    """Apply ``leaf_pred`` (Column -> boolean Column) to the value at
    ``path``, wrapping ``F.exists`` at every array-of-documents
    boundary — "some element (recursively) satisfies the predicate".
    A segment absent from the static schema evaluates the predicate
    over NULL (missing ≡ null). An EMPTY or null array yields no
    elements, so the path's value set is empty — Mongo treats that
    as the single value "missing" (≡ null): the traversal also
    matches when the array is null/empty AND the predicate accepts
    a null input (a no-op for non-null-accepting predicates, since
    ``pred(NULL)`` is SQL NULL → coalesced false)."""
    from pyspark.sql.types import ArrayType, StructType

    segs = path.split(".")

    def rec(col, t, i: int) -> Column:
        if i == len(segs):
            return F.coalesce(leaf_pred(col), F.lit(False))
        seg = segs[i]
        if not (isinstance(t, StructType) and seg in t.fieldNames()):
            return F.coalesce(leaf_pred(F.lit(None)), F.lit(False))
        child = F.col(seg) if col is None else col[seg]
        ct = t[seg].dataType
        if isinstance(ct, ArrayType) and i < len(segs) - 1:
            elem_t = ct.elementType
            missing = (
                (child.isNull() | (F.size(child) == F.lit(0)))
                & F.coalesce(leaf_pred(F.lit(None)), F.lit(False))
            )
            return F.coalesce(
                F.exists(child, lambda e: rec(e, elem_t, i + 1)),
                F.lit(False),
            ) | missing
        return rec(child, ct, i + 1)

    return rec(None, schema, 0)


def _multikey_match(schema, path: str, val) -> Column:
    """One ``{path: valspec}`` leaf with multikey distribution."""
    if isinstance(val, dict) and any(k.startswith("$") for k in val):
        clauses: list[Column] = []
        for op, v in val.items():
            if op == "$not":
                # Mongo: NO element matches the inner predicate
                clauses.append(~_traverse_multikey(
                    schema, path, lambda c, v=v: _field_match(c, v)))
            elif op == "$exists" and v is False:
                # NO element carries the field (non-null, §1.2)
                clauses.append(~_traverse_multikey(
                    schema, path, lambda c: c.isNotNull()))
            elif op == "$ne":
                # Mongo negation over arrays: NO element equals v.
                # Compile the complementary positive ($eq) and negate
                # the whole traversal, so missing-path / empty-array
                # docs (whose value set is "missing" ≡ null) MATCH a
                # non-null v — and are excluded by {$ne: null}.
                clauses.append(~_traverse_multikey(
                    schema, path, lambda c, v=v: _field_match(c, v)))
            elif op == "$nin":
                # same contract as $ne: NO element is in the list
                clauses.append(~_traverse_multikey(
                    schema, path,
                    lambda c, v=v: _field_match(c, {"$in": v})))
            else:
                # each clause distributes independently: it may be
                # satisfied by a DIFFERENT element than its siblings
                clauses.append(_traverse_multikey(
                    schema, path,
                    lambda c, op=op, v=v: _field_match(c, {op: v})))
        return _variadic_and(clauses)
    return _traverse_multikey(schema, path, lambda c: _field_match(c, val))


def _field_match(col: Column, val: Any) -> Column:
    if isinstance(val, dict) and any(k.startswith("$") for k in val):
        sub: list[Column] = []
        for op, v in val.items():
            if op == "$not":
                # Mongo $not matches docs where the operand does NOT
                # match — including null/missing fields, where the
                # inner predicate evaluates to SQL NULL. Null-safe
                # negate: NULL counts as "did not match".
                sub.append(~F.coalesce(_field_match(col, v), F.lit(False)))
            elif op == "$elemMatch":
                inner = v
                sub.append(
                    F.exists(col, lambda e: _field_match_elem(e, inner))
                )
            elif (op in ("$in", "$nin", "$all") and _ci()
                    and isinstance(v, (list, tuple))
                    and any(isinstance(x, str) for x in v)):
                sub.append(_collate_member_op(op, col, v))
            elif op in _MATCH_OPS:
                c2, v2 = (_collate_pair(col, v)
                          if op in _COLLATABLE_OPS else (col, v))
                sub.append(_MATCH_OPS[op](c2, v2))
            else:
                raise PipelineError(f"unsupported match operator {op!r}")
        return _variadic_and(sub)
    if val is None:
        return col.isNull()
    col, val = _collate_pair(col, val)
    return col == F.lit(val)


#: $match operators whose operands participate in collation —
#: (in)equality and ordering over strings; $regex/$mod/$size/$exists
#: keep their own semantics (Mongo: collation does not apply to $regex)
_COLLATABLE_OPS = frozenset({
    "$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$in", "$nin", "$all",
})


def _field_match_elem(elem: Column, query: dict) -> Column:
    def one(op, v):
        if op not in _MATCH_OPS:
            return _raise(op)
        if (op in ("$in", "$nin", "$all") and _ci()
                and isinstance(v, (list, tuple))
                and any(isinstance(x, str) for x in v)):
            return _collate_member_op(op, elem, v)
        c2, v2 = (_collate_pair(elem, v)
                  if op in _COLLATABLE_OPS else (elem, v))
        return _MATCH_OPS[op](c2, v2)

    return _variadic_and([one(op, v) for op, v in query.items()])


def _raise(op):
    raise PipelineError(f"unsupported $elemMatch operator {op!r}")


def _variadic_and(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def _variadic_or(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


# ---------------------------------------------------------------------------
# $group accumulators
# ---------------------------------------------------------------------------

def _compile_accumulator(spec: dict, sort_keys: list[tuple[str, bool]] | None) -> Column:
    [(op, arg)] = spec.items()
    if op == "$sum":
        if isinstance(arg, (int, float)) and not isinstance(arg, bool):
            # $sum: 1 (or k) — integer count semantics, no decimal needed
            return F.sum(F.lit(arg))
        # Mongo $sum ignores non-numeric values and returns 0 — not
        # null — for a group with nothing to add (fuzz-found, round 5)
        return F.coalesce(dsum(compile_expr(arg)), F.lit(0.0))
    if op == "$avg":
        return davg(compile_expr(arg))
    if op == "$min":
        return F.min(compile_expr(arg))
    if op == "$max":
        return F.max(compile_expr(arg))
    if op == "$push":
        return F.collect_list(compile_expr(arg))
    if op == "$addToSet":
        # order-normalized: Mongo sets are unordered, collect_set's
        # order is partitioning-dependent — sort for determinism
        return F.sort_array(F.collect_set(compile_expr(arg)))
    if op == "$stdDevPop":
        return F.stddev_pop(compile_expr(arg))
    if op == "$stdDevSamp":
        return F.stddev_samp(compile_expr(arg))
    if op in ("$first", "$last"):
        if not sort_keys:
            raise PipelineError(f"{op} requires a preceding $sort stage")
        ordk = F.struct(
            *[
                (F.col(k) if asc else _desc_orderable(k)).alias(f"k{i}")
                for i, (k, asc) in enumerate(sort_keys)
            ]
        )
        fn = "min_by" if op == "$first" else "max_by"
        return getattr(F, fn)(compile_expr(arg), ordk)
    if op == "$count":
        return F.count(F.lit(1))
    if op == "$median":
        return F.median(compile_expr(arg["input"] if isinstance(arg, dict) else arg))
    if op == "$percentile":
        ps = arg["p"]
        return F.percentile(
            compile_expr(arg["input"]), F.array(*[F.lit(float(p)) for p in ps])
        )
    if op in ("$minN", "$maxN"):
        n = arg["n"]
        if not (isinstance(n, int) and n > 0):
            raise PipelineError(f"{op} requires a positive literal n")
        asc = op == "$minN"
        return F.slice(
            F.sort_array(F.collect_list(compile_expr(arg["input"])), asc=asc), 1, n
        )
    if op in ("$firstN", "$lastN"):
        # like $first/$last, meaningful only under an established order
        n = arg["n"]
        if not (isinstance(n, int) and n > 0):
            raise PipelineError(f"{op} requires a positive literal n")
        if not sort_keys:
            raise PipelineError(f"{op} requires a preceding $sort stage")
        ordk = _sort_struct(sort_keys)
        return _n_by_order(
            compile_expr(arg["input"]), ordk, n, from_end=op == "$lastN"
        )
    if op in ("$top", "$bottom", "$topN", "$bottomN"):
        # self-sorted accumulators: sortBy rides in the spec. Mongo's
        # $top is the FIRST element under sortBy; $bottom the last.
        by = [(k, v >= 0) for k, v in arg["sortBy"].items()]
        ordk = _sort_struct(by)
        out = compile_expr(arg["output"])
        if op in ("$top", "$bottom"):
            fn = F.min_by if op == "$top" else F.max_by
            return fn(out, ordk)
        n = arg["n"]
        if not (isinstance(n, int) and n > 0):
            raise PipelineError(f"{op} requires a positive literal n")
        return _n_by_order(out, ordk, n, from_end=op == "$bottomN")
    if op == "$accumulator":
        raise PipelineError(
            "$accumulator is unsupported by design: "
            + _REFUSED_EXPR_OPS["$accumulator"]
        )
    raise PipelineError(f"unsupported accumulator {op!r}")


def _sort_struct(sort_keys: list[tuple[str, bool]]) -> Column:
    """Orderable struct for min_by/max_by/sort_array under a Mongo
    sort spec (desc keys negated — numeric/timestamp only, refused
    loudly otherwise by _desc_orderable)."""
    return F.struct(
        *[
            (F.col(k) if asc else _desc_orderable(k)).alias(f"k{i}")
            for i, (k, asc) in enumerate(sort_keys)
        ]
    )


def _n_by_order(value: Column, ordk: Column, n: int, *, from_end: bool) -> Column:
    """First/last ``n`` values of a group under ``ordk``: collect
    (order, value) pairs, sort once per group, slice, project the
    values. Group state is O(|group|) — identical to Mongo's own
    accumulator semantics, and the sort runs inside the aggregate, not
    as a window."""
    pairs = F.sort_array(F.collect_list(F.struct(ordk.alias("o"), value.alias("v"))))
    if from_end:
        # slice(-n) on a group SHORTER than n returns empty, not all —
        # Mongo returns the whole group, so guard the short case
        sliced = F.when(F.size(pairs) <= n, pairs).otherwise(F.slice(pairs, -n, n))
    else:
        sliced = F.slice(pairs, 1, n)
    return F.transform(sliced, lambda x: x["v"])


def _desc_orderable(key: str) -> Column:
    # min_by/max_by order structs ascending; a desc sort key must be
    # inverted. Only numeric/timestamp keys support negation — refuse
    # loudly otherwise rather than return wrong rows. NULL inverts to
    # +inf: under Mongo's BSON order null is the SMALLEST value, so a
    # descending sort places it LAST — bare negation left it null,
    # which the ascending struct sort put FIRST (fuzz-found, round 5).
    return F.coalesce(-F.col(key).cast("double"), F.lit(float("inf")))


# ---------------------------------------------------------------------------
# stages
# ---------------------------------------------------------------------------

def compile_pipeline(
    source: DataFrame,
    pipeline: list[dict],
    *,
    collections: dict[str, DataFrame] | None = None,
    let: dict | None = None,
    collation: dict | None = None,
) -> DataFrame:
    """Compile a Mongo aggregation pipeline against ``source``.

    ``collections`` resolves ``$lookup``/``$unionWith`` foreign
    collection names to DataFrames. ``let`` is the aggregate-command
    option (Mongo 5.0 ``db.coll.aggregate(pipeline, {let: ...})``):
    CONSTANT expressions bound as ``$$var`` for the whole pipeline —
    referencing a document field inside a let value refuses, like
    Mongo's "let vars must be constant" error.

    ``collation`` is the aggregate-command collation option (r7):
    ``{locale: "simple"}`` is binary compare (pass-through);
    ``{locale: "en", strength: 2}`` compiles case-insensitive
    comparisons as lower()-images of $match field predicates, $group
    keys, $sort keys and $sortByCount (group _id surfaces the
    binary-MINIMUM representative of each CI equivalence class —
    Mongo leaves the representative unspecified). Membership ops
    rewrite all-string lists ($in/$nin lower both sides, $all lowers
    the array elementwise); mixed string/non-string lists refuse.
    Everything the rewrite cannot make correct refuses by name rather
    than silently running binary compares: stages outside the rewrite
    set, comparison expression operators (_CI_REFUSED_EXPR_OPS; $expr
    itself compiles with the same per-operator CI guards as
    $project/$addFields, with $in taking the :func:`_ci_expr_in`
    rewrite), order-dependent accumulators
    ($first/$last/$firstN/$lastN/$top*/$bottom*) and string-typed
    $min/$max/$minN/$maxN/$addToSet (accumulator AND expression
    forms); other locales/strengths/options
    refuse in :func:`_parse_collation`. See USAGE.md §4 "Collation";
    oracle-gated by queries/misc.q_collation.

    A malformed stage spec (missing/ill-typed required keys) raises
    :class:`PipelineError` naming the stage — never a bare Python
    KeyError/ValueError.
    """
    top_bindings: dict[str, Column] = {}
    if let is not None:
        if not (isinstance(let, dict)
                and all(isinstance(k, str) for k in let)):
            raise PipelineError("aggregate let must be a document")

        def _no_fields(path: str) -> Column:
            raise PipelineError(
                f"aggregate let values must be constant expressions "
                f"(referenced field ${path})"
            )

        with _bind_fields(_no_fields):
            top_bindings = {k: compile_expr(v) for k, v in let.items()}
    ci, fold = _parse_collation(collation)
    with _bind(**top_bindings), _collation_scope(ci, fold):
        return _compile_stages(source, pipeline, collections)


def _compile_stages(
    source: DataFrame,
    pipeline: list[dict],
    collections: dict[str, DataFrame] | None,
) -> DataFrame:
    df = source
    sort_keys: list[tuple[str, bool]] | None = None
    for stage_idx, stage in enumerate(pipeline):
        if not (isinstance(stage, dict) and len(stage) == 1):
            raise PipelineError(
                f"each pipeline stage must be a single-key document, "
                f"got {stage!r}"
            )
        [(name, spec)] = stage.items()
        try:
            with _type_scope(df):
                df, sort_keys = _compile_one_stage(
                    df, name, spec, stage_idx, sort_keys, collections
                )
        except PipelineError:
            raise  # already the typed, stage-aware error
        except (KeyError, ValueError, TypeError) as e:
            # spec-shape errors surface as the engine's typed error,
            # naming the stage — not a bare KeyError('unit')
            raise PipelineError(
                f"{name}: malformed stage spec "
                f"({type(e).__name__}: {e})"
            ) from e
    return df


def _compile_one_stage(
    df: DataFrame,
    name: str,
    spec,
    stage_idx: int,
    sort_keys,
    collections,
):
    if _ci() and name not in _COLLATION_CI_STAGES:
        raise PipelineError(
            f"collation: stage {name} is not collation-rewritten — "
            f"running it with binary compares under a requested "
            f"case-insensitive collation would be silently wrong. "
            f"Supported stages: {', '.join(sorted(_COLLATION_CI_STAGES))}")
    if name == "$geoNear":
        # Mongo requires $geoNear to be the first stage
        if stage_idx != 0:
            raise PipelineError("$geoNear must be the first pipeline stage")
        df = _geo_near_stage(df, spec)
    elif name == "$vectorSearch":
        if stage_idx != 0:
            raise PipelineError("$vectorSearch must be the first pipeline stage")
        df = _vector_search_stage(df, spec)
    elif name == "$documents":
        # inline literal collection (Mongo database-level aggregate
        # form); replaces the source, so first stage only
        if stage_idx != 0:
            raise PipelineError("$documents must be the first pipeline stage")
        if not (isinstance(spec, list) and spec
                and all(isinstance(d, dict) for d in spec)):
            raise PipelineError(
                "$documents requires a non-empty list of literal documents"
            )
        df = df.sparkSession.createDataFrame(
            [_doc_row(d) for d in spec]
        )
    elif name == "$match":
        df = df.filter(compile_match(spec, df.schema))
    elif name in ("$project", "$addFields", "$set"):
        df = _project(df, spec, add_only=name != "$project")
    elif name == "$unset":
        for path in spec if isinstance(spec, list) else [spec]:
            df = _drop_nested(df, path)
    elif name == "$unwind":
        df = _unwind(df, spec)
    elif name == "$group":
        df = _group(df, spec, sort_keys)
        sort_keys = None
    elif name == "$sort":
        for k, v in spec.items():
            if isinstance(v, bool) or v not in (1, -1):
                # Mongo rejects 0 and non-numeric sort specs
                # ({$meta: textScore} included — the engine's $text
                # score rides as an ordinary projected column)
                raise PipelineError(
                    f"$sort: direction for {k!r} must be 1 or -1 "
                    f"(got {v!r})"
                )
        sort_keys = [(k, v >= 0) for k, v in spec.items()]
        order_cols = []
        for k, asc in sort_keys:
            if _ci() and _is_string_path(df, k):
                # CI collation: order by the lower() image; the binary
                # key breaks CI ties deterministically (Mongo leaves
                # the within-class order unspecified)
                order_cols.append(
                    _fold_col(F.col(k)) if asc else F.desc(_fold_col(F.col(k))))
            order_cols.append(F.col(k) if asc else F.desc(k))
        df = df.orderBy(*order_cols)
    elif name == "$limit":
        if not (isinstance(spec, int) and not isinstance(spec, bool)
                and spec >= 1):
            # Mongo: "the limit must be positive" — 0 is rejected
            # (unlike $skip, where 0 is legal)
            raise PipelineError("$limit requires a positive integer")
        df = df.limit(spec)
    elif name == "$skip":
        if not (isinstance(spec, int) and not isinstance(spec, bool)
                and spec >= 0):
            raise PipelineError("$skip requires a non-negative integer")
        df = df.offset(spec)
    elif name == "$count":
        if (not isinstance(spec, str) or not spec or spec.startswith("$")
                or "." in spec):
            raise PipelineError(
                "$count requires a non-empty string field name without "
                "a '$' prefix or '.'")
        # Mongo emits NO document over empty input; drop the zero row
        # so the compiled stage agrees with the cube-routed $count and
        # the router's direct fallback (r7 advice fix)
        df = df.agg(F.count(F.lit(1)).alias(spec)).where(F.col(spec) > 0)
    elif name == "$sortByCount":
        e = compile_expr(spec)
        if _ci() and _is_string_expr(df, e):
            # CI collation: one group per lower()-image class; the
            # surfaced _id is the class's binary-minimum representative
            df = (
                df.groupBy(_fold_col(e).alias("__ci_id"))
                .agg(F.min(e).alias("_id"),
                     F.count(F.lit(1)).alias("count"))
                .orderBy(F.desc("count"), "__ci_id", "_id")
                .select("_id", "count")
            )
        else:
            df = (
                df.groupBy(e.alias("_id"))
                .agg(F.count(F.lit(1)).alias("count"))
                .orderBy(F.desc("count"), "_id")
            )
    elif name == "$lookup":
        df = _lookup(df, spec, collections)
    elif name == "$unionWith":
        df = _union_with(df, spec, collections)
    elif name in ("$replaceRoot", "$replaceWith"):
        root = spec["newRoot"] if name == "$replaceRoot" else spec
        if isinstance(root, str) and root.startswith("$"):
            df = df.select(f"{root[1:]}.*")
        elif isinstance(root, dict):
            # expression root (document literal / $mergeObjects /
            # nested ops): build the struct, then promote its fields
            df = df.select(compile_expr(root).alias("__root")).select("__root.*")
        else:
            raise PipelineError(
                f"{name} requires a field path or document expression"
            )
    elif name == "$setWindowFields":
        df = _set_window_fields(df, spec)
    elif name == "$densify":
        df = _densify(df, spec)
    elif name == "$fill":
        df = _fill(df, spec)
    elif name == "$bucket":
        df = _bucket(df, spec)
    elif name == "$bucketAuto":
        df = _bucket_auto(df, spec)
    elif name == "$facet":
        df = _facet(df, spec, collections)
    elif name == "$graphLookup":
        df = _graph_lookup(df, spec, collections)
    elif name == "$sample":
        # Mongo samples pseudo-randomly; the engine-wide sampling
        # policy (queries/misc.q_sample) is deterministic hash
        # order instead — the row set is a pure function of the
        # data, portable across partitionings and engines.
        size = spec["size"] if isinstance(spec, dict) else int(spec)
        df = df.orderBy(F.xxhash64(*[F.col(c) for c in df.columns])).limit(size)
    elif name == "$redact":
        df = _redact_stage(df, spec)
    elif name == "$collStats":
        if stage_idx != 0:
            raise PipelineError("$collStats must be the first pipeline stage")
        df = _coll_stats_stage(df, spec)
    elif name in ("$out", "$merge"):
        raise PipelineError(
            f"{name} executes a write — use execute_pipeline(source, "
            "pipeline, store) for a trailing $out/$merge, or pass the "
            "compiled result to CubeCatalog/DataFrameWriter explicitly"
        )
    elif name in _REFUSED_STAGES:
        raise PipelineError(
            f"{name} is unsupported by design: {_REFUSED_STAGES[name]}"
        )
    else:
        raise PipelineError(f"unsupported stage {name!r}")
    return df, sort_keys


#: stages outside the engine's model, refused BY NAME with the reason
#: and the supported alternative — with these, every Mongo 7.0 pipeline
#: stage is either compiled or named.
_REFUSED_STAGES = {
    "$search": "Atlas Search infrastructure does not exist here; the $text "
               "surface (inverted postings) and $vectorSearch cover scored "
               "retrieval",
    "$searchMeta": "Atlas Search infrastructure does not exist here; "
                   "aggregate over the $text surface's explicit score "
                   "columns instead",
    "$listSearchIndexes": "Atlas Search infrastructure does not exist here",
    "$changeStream": "change feeds are the Structured Streaming CDC surface; "
                     "watch-style pipelines over a stream compile via "
                     "streaming.pipeline.apply_change_stream_pipeline",
    "$changeStreamSplitLargeEvent": "change feeds are the Structured "
                                    "Streaming CDC surface",
    "$currentOp": "mongod server introspection has no analogue in a "
                  "compiled Spark plan",
    "$planCacheStats": "mongod server introspection has no analogue; use "
                       "OlapEngine.explain / DataFrame.explain for plans",
    "$queryStats": "mongod server introspection has no analogue",
    "$listSampledQueries": "mongod server introspection has no analogue",
    "$listLocalSessions": "mongod session registry has no analogue",
    "$listSessions": "mongod session registry has no analogue",
    "$shardedDataDistribution": "sharding metadata has no analogue; "
                                "partition statistics live in the cube "
                                "catalog (cube/catalog.py dim-stats)",
    "$indexStats": "there are no secondary indexes; the cube catalog's "
                   "dim-stats metadata (cube/catalog.py) is the analogue",
}


def _redact_stage(df: DataFrame, spec: Any) -> DataFrame:
    """$redact wired into the compiler (the plan-time StructType walk
    of operators/redact.py, driven by a compiled Mongo expression).

    At every struct node — including the document root — the condition
    compiles with field paths resolving INSIDE that node (missing
    fields read as null, Mongo's missing semantics) and the system
    variables $$PRUNE/$$KEEP/$$DESCEND/$$CURRENT bound. A root-level
    PRUNE drops the document (Mongo: excluded from the result);
    pruned subdocuments surface as typed nulls — the typed engine's
    representation of a removed field.
    """
    from pyspark.sql.types import StructType

    from mongo_olap_spark.operators.redact import DESCEND, KEEP, PRUNE, redact

    def decide(node_col: Column, path: tuple, dtype: StructType) -> Column:
        def resolver(p: str) -> Column:
            head, *rest = p.split(".")
            cur_t = dtype
            c = node_col
            for part in (head, *rest):
                if not (isinstance(cur_t, StructType) and part in cur_t.names):
                    return F.lit(None)
                c = c[part]
                cur_t = cur_t[part].dataType
            return c

        with _bind_fields(resolver), _bind(
            PRUNE=F.lit(PRUNE), KEEP=F.lit(KEEP),
            DESCEND=F.lit(DESCEND), CURRENT=node_col,
        ):
            return compile_expr(spec).cast("string")

    root = F.struct(*[F.col(c) for c in df.columns])
    root_t = StructType([df.schema[c] for c in df.columns])
    red = redact(root, root_t, decide)
    return (
        df.select(red.alias("__redacted"))
        .where(F.col("__redacted").isNotNull())
        .select("__redacted.*")
    )


def _coll_stats_stage(df: DataFrame, spec: Any) -> DataFrame:
    """$collStats with the ``count`` form: one document carrying the
    exact collection count (a metadata-only aggregate — Spark plans it
    as a partial-count + single-row final, no wide shuffle). The
    latency/queryExec/storage forms are mongod runtime telemetry and
    refuse by name; storage-level statistics live in the cube
    catalog's snapshot metadata instead."""
    if not isinstance(spec, dict):
        raise PipelineError("$collStats requires a document spec")
    unsupported = set(spec) - {"count"}
    if unsupported:
        raise PipelineError(
            f"$collStats: {sorted(unsupported)} are mongod runtime "
            "telemetry with no analogue; supported form is {count: {}}"
        )
    if "count" not in spec:
        raise PipelineError("$collStats: expected {count: {}}")
    return df.agg(F.count(F.lit(1)).cast("long").alias("count"))


def _doc_row(d: dict):
    """Literal document → Row with nested dicts as nested Rows, so
    subdocuments type as STRUCTS (createDataFrame would otherwise
    infer plain dicts as maps, breaking dot-paths and $replaceWith)."""
    from pyspark.sql import Row

    return Row(
        **{k: _doc_row(v) if isinstance(v, dict) else v for k, v in d.items()}
    )


def _vector_search_stage(df: DataFrame, spec: dict) -> DataFrame:
    """Atlas-style $vectorSearch over an ``array<float/double>`` path.

    ``exact: true`` (ENN) runs the brute-force cosine scan with a
    top-``limit`` sort — Spark plans it as TakeOrdered (per-partition
    top-k + driver merge), the correct exact shape at any scale.
    ``exact: false`` (Atlas's default ANN) refuses by name: the
    engine's ANN lives in the dedicated operators (knn_lsh / ivf_knn,
    SURVEY §2.3 X3) where banding/quantization parameters are explicit
    — silently mapping HNSW expectations onto a different index family
    would misrepresent recall. ``filter`` compiles through the $match
    language BEFORE scoring (pushed to the scan). The score is Atlas's
    normalized cosine ``(1 + cos) / 2`` in ``scoreField`` (engine
    spelling of the $meta:"vectorSearchScore" projection), rounded to
    5 dp so rankings are stable under float summation order."""
    from mongo_olap_spark.functions.expressions import cosine

    if not spec.get("exact", False):
        raise PipelineError(
            "$vectorSearch: exact:false (ANN) is served by the knn_lsh/ivf_knn "
            "operators with explicit index parameters; set exact:true for ENN"
        )
    qv = spec.get("queryVector")
    if not (isinstance(qv, list) and qv):
        raise PipelineError("$vectorSearch requires a literal queryVector")
    path, limit = spec["path"], spec["limit"]
    score_field = spec.get("scoreField", "score")
    out = df
    if "filter" in spec:
        out = out.filter(compile_match(spec["filter"], out.schema))
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    score = F.round((F.lit(1.0) + cosine(F.col(path), qcol)) / 2, 5)
    # the 5-dp rounding that stabilizes ranking can MANUFACTURE exact
    # score ties; a tie straddling the limit cut would make the top-k
    # row set partitioning-dependent — tieBreaker (engine extension:
    # any orderable column, e.g. the id) pins the cut
    order = [F.desc(score_field)]
    if "tieBreaker" in spec:
        order.append(F.asc(spec["tieBreaker"]))
    return (
        out.withColumn(score_field, score)
        .orderBy(*order)
        .limit(limit)
    )


def _geo_near_stage(df: DataFrame, spec: dict) -> DataFrame:
    """$geoNear (2dsphere semantics): distance from ``near`` in a new
    ``distanceField`` (meters), optional ``maxDistance`` (meters) and
    ``query`` pre-filters, nearest-first order. ``near`` takes GeoJSON
    ``{type: Point, coordinates: [lon, lat]}`` or a bare ``[lon, lat]``
    pair — LONGITUDE FIRST, per GeoJSON. The document's own position
    comes from ``key: [lonField, latField]`` (the typed-engine spelling
    of the indexed location field)."""
    from mongo_olap_spark.operators.geo import geo_near

    near = spec.get("near")
    if isinstance(near, dict):
        near = near.get("coordinates")
    if not (isinstance(near, list) and len(near) == 2):
        raise PipelineError("$geoNear: near must be [lon, lat] coordinates")
    key = spec.get("key")
    if not (isinstance(key, list) and len(key) == 2):
        raise PipelineError(
            "$geoNear: key must name the [lonField, latField] columns"
        )
    dist_field = spec.get("distanceField", "distance")
    out = df
    if "query" in spec:
        out = out.filter(compile_match(spec["query"], out.schema))
    lon, lat = near
    return geo_near(
        out,
        float(lat),
        float(lon),
        lat_col=key[1],
        lon_col=key[0],
        distance_col=dist_field,
        max_distance_m=spec.get("maxDistance"),
        limit=spec.get("limit"),
    )


def _drop_nested(df: DataFrame, path: str) -> DataFrame:
    """$unset / exclusion-$project of a dotted path: remove the struct
    subfield. Mongo semantics: unsetting a missing field (or a path
    through a non-struct) is a silent no-op."""
    from pyspark.sql.types import StructType

    parts = path.split(".")
    if len(parts) == 1:
        return df.drop(path)
    head = parts[0]
    if head not in df.columns:
        return df
    _check_no_array_intermediate(df, path, "$unset")
    # walk EVERY intermediate segment: a path through a non-struct (or
    # absent) field is a no-op, and dropFields would raise instead
    dt = df.schema[head].dataType
    for seg in parts[1:-1]:
        if not isinstance(dt, StructType) or seg not in dt.fieldNames():
            return df
        dt = dt[seg].dataType
    if not isinstance(dt, StructType) or parts[-1] not in dt.fieldNames():
        return df
    if len(dt.fieldNames()) == 1:
        # dropping the struct's last field: Mongo leaves {}, but a
        # fixed Spark schema cannot hold an empty struct (dropFields
        # raises CANNOT_DROP_ALL_FIELDS) — remove the now-empty parent
        # instead, cascading upward
        return _drop_nested(df, ".".join(parts[:-1]))
    return df.withColumn(head, F.col(head).dropFields(".".join(parts[1:])))


def _check_no_array_intermediate(df: DataFrame, path: str, stage: str) -> None:
    """Mongo applies a dotted write/drop through an ARRAY of documents
    to EVERY element; the struct machinery here would silently replace
    the array (or no-op) instead — refuse toward the $map spelling.
    Scalar/missing intermediates keep their documented semantics."""
    from pyspark.sql.types import ArrayType, StructType

    parts = path.split(".")
    dt = df.schema
    for seg in parts[:-1]:
        if isinstance(dt, StructType) and seg in dt.fieldNames():
            dt = dt[seg].dataType
            if isinstance(dt, ArrayType):
                raise PipelineError(
                    f"{stage}: dotted path {path!r} through an array of "
                    'documents is not supported — use {"$map": ...} to '
                    "transform elements"
                )
        else:
            return


def _set_nested(df: DataFrame, path: str, val: Column) -> DataFrame:
    """$addFields/$set of a dotted path: set the struct subfield,
    creating intermediate structs (and overwriting non-struct
    intermediates with a document, as Mongo does)."""
    from pyspark.sql.types import StructType

    parts = path.split(".")
    if len(parts) == 1:
        return df.withColumn(path, val)
    _check_no_array_intermediate(df, path, "$set")

    def set_path(schema, col: Column | None, ps: list[str]) -> Column:
        p = ps[0]
        if len(ps) == 1:
            child = val
        else:
            if (
                schema is not None
                and p in schema.fieldNames()
                and isinstance(schema[p].dataType, StructType)
            ):
                child = set_path(
                    schema[p].dataType,
                    col.getField(p) if col is not None else None,
                    ps[1:],
                )
            else:
                child = set_path(None, None, ps[1:])
        if col is not None:
            # Row-level NULL struct: withField on NULL yields NULL,
            # silently dropping the $set; Mongo on {a: null} produces
            # {a: {p: child}}. Build a same-typed struct with the other
            # fields null so both WHEN branches agree on schema.
            names = list(schema.fieldNames())
            if p not in names:
                names.append(p)
            null_fields = [
                child.alias(p)
                if f == p
                else F.lit(None).cast(schema[f].dataType).alias(f)
                for f in names
            ]
            return F.when(
                col.isNull(), F.struct(*null_fields)
            ).otherwise(col.withField(p, child))
        return F.struct(child.alias(p))

    head = parts[0]
    if head in df.columns and isinstance(df.schema[head].dataType, StructType):
        new_col = set_path(df.schema[head].dataType, F.col(head), parts[1:])
    else:
        new_col = set_path(None, None, parts[1:])
    return df.withColumn(head, new_col)


def _project(df: DataFrame, spec: dict, *, add_only: bool) -> DataFrame:
    if not add_only and spec.get("_id") in (0, False) and len(spec) > 1:
        # Mongo's _id exception: _id (alone among fields) may be
        # excluded inside an inclusion projection
        spec = {k: v for k, v in spec.items() if k != "_id"}
        if "_id" in df.columns:
            df = df.drop("_id")
    excludes = [k for k, v in spec.items() if v in (0, False)]
    if excludes:
        if len(excludes) != len(spec):
            raise PipelineError("cannot mix inclusion and exclusion in $project")
        for k in excludes:
            df = _drop_nested(df, k)
        return df
    if add_only:
        for k, v in spec.items():
            val = compile_expr(v) if v not in (1, True) else F.col(k)
            df = _set_nested(df, k, val)
        return df
    # inclusion form: dotted keys build NESTED documents containing
    # only the named leaves (Mongo {$project: {"a.b": 1}} outputs
    # {a: {b: ...}}, not a flat dot-named column) — round 6
    from pyspark.sql.types import ArrayType, StructType

    # optimization r16: hoist repeated closed subexpressions into ONE
    # hidden column each (inner projection), so interpreted HOF
    # operands evaluate once per row instead of once per output column
    # (see _CSE_SCOPE). Skipped under CI collation: probe-mode
    # recompiles resolve against the pre-stage frame.
    occ_ids: dict[str, list[int]] = {}
    cse = [] if _ci() else _cse_candidates(
        [v for v in spec.values() if v not in (1, True)], occ_ids)
    if cse:
        taken = set(df.columns)
        by_id: dict[int, str] = {}
        hcols = []
        for i, (key, sub) in enumerate(cse):
            nm = f"__cse{i}"
            while nm in taken:
                nm = "_" + nm
            taken.add(nm)
            hcols.append(compile_expr(sub).alias(nm))
            for oid in occ_ids[key]:
                by_id[oid] = nm
        df = df.select("*", *hcols)
        _CSE_SCOPE.append(by_id)
    try:
        return _project_inclusion(df, spec)
    finally:
        if cse:
            _CSE_SCOPE.pop()


def _project_inclusion(df: DataFrame, spec: dict) -> DataFrame:
    from pyspark.sql.types import ArrayType, StructType

    tree: dict = {}
    for k, v in spec.items():
        val = F.col(k) if v in (1, True) else compile_expr(v)
        parts = k.split(".")
        if len(parts) > 1 and v in (1, True):
            # Mongo maps a dotted projection through an ARRAY of
            # documents per element ({arr: [{b}, ...]}); the struct
            # rebuild below would silently produce {arr: {b: [...]}} —
            # refuse toward the $map spelling instead
            dt = df.schema
            for seg in parts[:-1]:
                if isinstance(dt, StructType) and seg in dt.fieldNames():
                    dt = dt[seg].dataType
                    if isinstance(dt, ArrayType):
                        raise PipelineError(
                            f"$project: dotted inclusion {k!r} through an "
                            "array of documents is not supported — use "
                            '{"$map": {"input": "$arr", "in": ...}}'
                        )
                else:
                    break
        node = tree
        for p in parts[:-1]:
            nxt = node.setdefault(p, {})
            if not isinstance(nxt, dict):
                raise PipelineError(
                    f"$project: path collision at {p!r} in {k!r}"
                )
            node = nxt
        if isinstance(node.get(parts[-1]), dict):
            raise PipelineError(
                f"$project: path collision at {parts[-1]!r} in {k!r}"
            )
        node[parts[-1]] = val

    def build(node: dict) -> Column:
        return F.struct(*[
            (build(v) if isinstance(v, dict) else v).alias(n)
            for n, v in node.items()
        ])

    cols = [
        (build(v) if isinstance(v, dict) else v).alias(n)
        for n, v in tree.items()
    ]
    return df.select(*cols)


def _unwind(df: DataFrame, spec) -> DataFrame:
    if isinstance(spec, str):
        path, preserve, idx = spec, False, None
    else:
        path = spec["path"]
        preserve = spec.get("preserveNullAndEmptyArrays", False)
        idx = spec.get("includeArrayIndex")
    field = path[1:]
    if "." in field and field not in df.columns:
        # nested array (a subfield of a struct): explode the element
        # alongside the document, then write it back INTO the struct —
        # Mongo replaces the nested field, it does not grow a new
        # flat dot-named column
        arr = F.col(field)
        if idx:
            ex = (F.posexplode_outer if preserve else F.posexplode)(arr)
            df2 = df.select("*", ex.alias("__uw_pos", "__uw_el"))
        else:
            ex = (F.explode_outer if preserve else F.explode)(arr)
            df2 = df.select("*", ex.alias("__uw_el"))
        df2 = _set_nested(df2, field, F.col("__uw_el"))
        if idx:
            # a dotted includeArrayIndex writes a struct subfield
            df2 = _set_nested(df2, idx, F.col("__uw_pos"))
        return df2.drop("__uw_el", "__uw_pos")
    others = [c for c in df.columns if c != field]
    explode = F.explode_outer if preserve else F.explode
    if idx:
        pos = F.posexplode_outer(field) if preserve else F.posexplode(field)
        if "." in idx:
            out = df.select(*others, pos.alias("__uw_pos", field))
            return _set_nested(out, idx, F.col("__uw_pos")).drop("__uw_pos")
        return df.select(*others, pos.alias(idx, field))
    return df.select(*others, explode(field).alias(field))


def _group(df: DataFrame, spec: dict, sort_keys) -> DataFrame:
    id_spec = spec.get("_id")
    for k in spec:
        if k != "_id" and "." in k:
            # Mongo: "the field name cannot contain '.'" — a literal
            # dot-named output column would be silently wrong
            raise PipelineError(
                f"$group: output field name {k!r} cannot contain '.'"
            )
    if _ci():
        _refuse_ci_accumulators(df, spec)
    aggs = [
        _compile_accumulator(v, sort_keys).alias(k)
        for k, v in spec.items()
        if k != "_id"
    ]
    if id_spec is None:
        return df.agg(*aggs) if aggs else df.agg(F.count(F.lit(1)).alias("n"))
    if isinstance(id_spec, dict) and not any(k.startswith("$") for k in id_spec):
        if _ci():
            # CI collation: string-typed keys group by their lower()
            # image; the surfaced key is the class's binary-MINIMUM
            # representative (Mongo leaves the representative
            # unspecified; min is deterministic and oracle-checkable)
            group_cols, rep_aggs = [], []
            for k, v in id_spec.items():
                e = compile_expr(v)
                if _is_string_expr(df, e):
                    group_cols.append(_fold_col(e).alias(f"__ci_{k}"))
                    rep_aggs.append(F.min(e).alias(k))
                else:
                    group_cols.append(e.alias(k))
            out = df.groupBy(*group_cols).agg(*rep_aggs, *aggs)
            return out.select(
                F.struct(*[F.col(k).alias(k) for k in id_spec]).alias("_id"),
                *[c for c in out.columns
                  if c not in id_spec and not c.startswith("__ci_")],
            )
        keys = [compile_expr(v).alias(k) for k, v in id_spec.items()]
        grouped = df.groupBy(*keys)
        out = grouped.agg(*aggs)
        return out.select(
            F.struct(*[F.col(k).alias(k) for k in id_spec]).alias("_id"),
            *[c for c in out.columns if c not in id_spec],
        )
    key = compile_expr(id_spec)
    if _ci() and _is_string_expr(df, key):
        out = df.groupBy(_fold_col(key).alias("__ci_id")).agg(
            F.min(key).alias("_id"), *aggs)
        return out.select(
            "_id", *[c for c in out.columns if c not in ("__ci_id", "_id")])
    return df.groupBy(key.alias("_id")).agg(*aggs)


#: accumulators whose result depends on document ORDER — under a CI
#: collation the rewritten $sort orders CI classes with unspecified
#: (binary-tiebroken) within-class order, so Mongo's answer is not
#: reproducible; refuse by name (compile_pipeline docstring contract)
_CI_ORDER_ACCS = frozenset({
    "$first", "$last", "$firstN", "$lastN",
    "$top", "$bottom", "$topN", "$bottomN",
})

#: accumulators that COMPARE their argument values — refused under CI
#: only when the argument is string-typed (binary min of "Banana" and
#: "apple" picks the wrong CI extremum)
_CI_CMP_ACCS = frozenset({"$min", "$max", "$minN", "$maxN", "$addToSet"})


def _refuse_ci_accumulators(df: DataFrame, spec: dict) -> None:
    """Refuse $group accumulators the CI-collation rewrite cannot make
    correct (see the two tables above); numeric/boolean arguments and
    order-independent accumulators pass through."""
    for k, v in spec.items():
        if k == "_id" or not (isinstance(v, dict) and len(v) == 1):
            continue
        [(op, arg)] = v.items()
        if op in _CI_ORDER_ACCS:
            raise PipelineError(
                f"collation: accumulator {op} is order-dependent and "
                "is not collation-rewritten — under a case-insensitive "
                "collation the within-class order is unspecified; "
                "drop the collation or materialize a $toLower key")
        if op in _CI_CMP_ACCS:
            inner = arg["input"] if (
                isinstance(arg, dict) and "input" in arg) else arg
            if _is_string_expr(df, compile_expr(inner)):
                raise PipelineError(
                    f"collation: {op} over a string argument would "
                    "compare binary under the requested case-"
                    "insensitive collation; apply $toLower explicitly "
                    "or drop the collation")


def _resolve(collections, name: str) -> DataFrame:
    if not collections or name not in collections:
        raise PipelineError(f"unknown collection {name!r} (pass collections=)")
    return collections[name]


def _lookup(df: DataFrame, spec: dict, collections) -> DataFrame:
    out_path = spec.get("as")
    if not (isinstance(out_path, str) and out_path):
        raise PipelineError("$lookup requires a non-empty string 'as'")
    if "." in out_path:
        # Mongo: a dotted `as` writes the match array into a NESTED
        # field (creating/overwriting intermediates as documents).
        # Compile with a temp top-level column, then move it into the
        # struct path — same machinery as dotted $set (r5/r6).
        tmp = "__lookup_as_tmp"
        if tmp in df.columns:
            raise PipelineError(
                f"$lookup: column name {tmp!r} is reserved by the compiler"
            )
        res = _lookup(df, {**spec, "as": tmp}, collections)
        return _set_nested(res, out_path, F.col(tmp)).drop(tmp)
    if "pipeline" in spec:
        if _ci():
            raise PipelineError(
                "collation: the correlated/pipeline $lookup form is not "
                "collation-rewritten (its $expr comparisons would run "
                "binary); use the localField/foreignField form, apply "
                "$toLower inside the pipeline explicitly, or drop the "
                "collation")
        return _lookup_pipeline(df, spec, collections)
    from pyspark.sql.types import ArrayType, StringType

    foreign = _resolve(collections, spec["from"])
    local, remote, out = spec["localField"], spec["foreignField"], spec["as"]
    # pre-aggregate the foreign side: one array row per key -> the join
    # never multiplies rows, and the aggregated side broadcasts when
    # small (Catalyst/AQE decide)
    if out in df.columns:
        df = df.drop(out)  # Mongo $lookup overwrites an existing as-field
    ft = _walk_path_type(foreign.schema, remote, "$lookup foreignField")
    lt = _walk_path_type(df.schema, local, "$lookup localField")

    # CI collation (r9): when BOTH key sides are string-typed (scalar
    # or array-of-string), equality runs through the lower() image —
    # the same rewrite $group/$match use, inside the same join shapes
    # (dedup happens on the LOWERED elements so a foreign doc keyed
    # ["A", "a"] still matches a local "a" exactly once). Non-string
    # keys on both sides compare binary (collation never affects
    # non-string comparisons). A string/non-string mix refuses: the
    # requested collation could not be honored on the string side.
    def _is_strish(t) -> bool:
        return isinstance(t, StringType) or (
            isinstance(t, ArrayType) and isinstance(t.elementType, StringType)
        )

    ci_keys = False
    if _ci():
        ls, fs = _is_strish(lt), _is_strish(ft)
        if ls != fs:
            raise PipelineError(
                "collation: $lookup joins a string-typed key against a "
                "non-string key; the case-insensitive collation cannot "
                "be honored on one side only — cast the keys to a "
                "common string type or drop the collation")
        ci_keys = ls and fs
    _kx = (lambda c: _fold_col(c)) if ci_keys else (lambda c: c)
    _kxa = (
        (lambda c: F.array_distinct(F.transform(c, _fold_col)))
        if ci_keys else (lambda c: F.array_distinct(c))
    )

    if isinstance(ft, ArrayType):
        # Mongo multikey on the FOREIGN side: a foreign doc matches a
        # local key equal to ANY of its elements. One deduped explode
        # of the foreign side (each doc appears once per distinct
        # element), then the same per-key packing.
        keyed = foreign.select(
            F.struct(*foreign.columns).alias("__doc"),
            F.explode_outer(_kxa(F.col(remote))).alias("__key"),
        )
        packed = keyed.groupBy("__key").agg(
            F.collect_list("__doc").alias(out)
        )
    else:
        packed = foreign.groupBy(_kx(F.col(remote)).alias("__key")).agg(
            F.collect_list(F.struct(*foreign.columns)).alias(out)
        )
    arr_type = packed.schema[out].dataType
    if isinstance(lt, ArrayType):
        # Mongo MULTIKEY form: an array-valued localField matches
        # foreign docs whose foreignField equals ANY element. Shape:
        # DISTINCT local arrays -> explode (deduped) -> equi-join ->
        # re-pack per array value -> null-safe join back. No row ids
        # (deterministic under retries), distinct keeps the exploded
        # side at |distinct arrays|, and the element join is a plain
        # hash join. A null/missing/empty local array matches foreign
        # null keys (explode_outer's null element), Mongo's
        # find-equality contract for null.
        for reserved in ("__lk_arr", "__lk_el", "__lk_pos"):
            if reserved in df.columns:
                raise PipelineError(
                    f"$lookup: column name {reserved!r} is reserved by the "
                    "multikey compile"
                )
        arrs = df.select(F.col(local).alias("__lk_arr")).distinct()
        el = arrs.select(
            "__lk_arr",
            F.posexplode_outer(_kxa(F.col("__lk_arr"))).alias(
                "__lk_pos", "__lk_el"),
        )
        if isinstance(ft, ArrayType):
            # BOTH sides arrays (advice r6→r7 fix): a foreign doc
            # sharing N distinct elements with the local array must
            # appear ONCE in `as`, not N times (the packed per-key
            # groups would each contribute a copy). Doc-granularity
            # match: the element equi-join fires once per shared
            # element; keep only the hit on the FIRST shared local
            # element (no earlier local element occurs in the
            # foreign key array) — exactly one survivor per
            # (array, doc) pair, with no doc-struct distinct/groupBy
            # (struct set-ops break on map fields and would collapse
            # genuinely duplicate foreign docs Mongo keeps).
            docs = foreign.select(
                F.struct(*foreign.columns).alias("__doc"),
                _kxa(F.col(remote)).alias("__keys"),
            ).select(
                "__doc", "__keys",
                F.explode_outer("__keys").alias("__key"),
            )
            raw = el.join(
                docs, el["__lk_el"].eqNullSafe(docs["__key"]), "inner")
            earlier = F.slice(
                _kxa(F.col("__lk_arr")),
                F.lit(1), F.coalesce(F.col("__lk_pos"), F.lit(0)))
            dup = F.exists(
                earlier,
                lambda x: F.coalesce(
                    F.exists(F.col("__keys"),
                             lambda k: k.eqNullSafe(x)),
                    F.lit(False)),
            )
            hits = raw.where(
                ~F.coalesce(dup, F.lit(False))
            ).groupBy("__lk_arr").agg(
                F.collect_list("__doc").alias(out)
            )
        else:
            hits = el.join(
                packed, el["__lk_el"].eqNullSafe(packed["__key"]), "inner"
            ).groupBy("__lk_arr").agg(
                F.flatten(F.collect_list(F.col(out))).alias(out)
            )
        joined = df.join(
            hits, F.col(local).eqNullSafe(hits["__lk_arr"]), "left"
        ).drop("__lk_arr")
    else:
        # null-safe: a null local key matches foreign null keys
        # (Mongo's $lookup equality; the correlated path already
        # honors this — the simple path was null-rejecting, r6 fix)
        joined = df.join(
            packed, _kx(F.col(local)).eqNullSafe(packed["__key"]), "left"
        ).drop("__key")
    # Mongo $lookup yields [] (not null) for match-less rows
    return joined.withColumn(
        out, F.coalesce(F.col(out), F.array().cast(arr_type))
    )


def _walk_path_type(schema, path: str, ctx: str):
    """The static type of a (possibly dotted) field path, or None when
    any segment is absent. A path THROUGH an array of documents
    refuses loudly — Mongo's multikey descent into subdocument arrays
    is not modeled (same policy as dotted inclusion-$project)."""
    from pyspark.sql.types import ArrayType, StructType

    t = schema
    parts = path.split(".")
    for i, part in enumerate(parts):
        if not isinstance(t, StructType) or part not in t.fieldNames():
            return None
        t = t[part].dataType
        if isinstance(t, ArrayType) and i < len(parts) - 1:
            raise PipelineError(
                f"{ctx}: path {path!r} descends through an array of "
                "documents; unwind it first"
            )
    return t


def _contains_var(node) -> bool:
    """Does an expression tree reference a $$let-variable?"""
    if isinstance(node, str):
        return node.startswith("$$")
    if isinstance(node, dict):
        return any(_contains_var(v) for v in node.values())
    if isinstance(node, list):
        return any(_contains_var(v) for v in node)
    return False


def _vars_in(node) -> set[str]:
    """All $$var heads referenced by an expression tree."""
    if isinstance(node, str):
        return {node[2:].split(".")[0]} if node.startswith("$$") else set()
    if isinstance(node, dict):
        return set().union(*[_vars_in(v) for v in node.values()], set())
    if isinstance(node, list):
        return set().union(*[_vars_in(v) for v in node], set())
    return set()


#: comparison conjuncts the correlated-$lookup compiler understands,
#: normalized to  foreign_field OP local_expr  (flip when the field is
#: on the right). $eq/$ne are null-safe (Mongo aggregation semantics).
_LOOKUP_CMP_OPS = {"$eq", "$ne", "$lt", "$lte", "$gt", "$gte"}
_LOOKUP_OP_FLIP = {"$eq": "$eq", "$ne": "$ne", "$lt": "$gt",
                   "$lte": "$gte", "$gt": "$lt", "$gte": "$lte"}
# residual comparisons share the aggregation-expression semantics —
# null-safe equality, BSON-total-order inequalities (null lowest).
# Bucketization stays sound under total order because a null value or
# bound lands in bucket 0, the bottom of the order.
_LOOKUP_CMP_COLS: dict[str, Callable[[Column, Column], Column]] = _CMP


def _detect_band(residuals: list, foreign: DataFrame):
    """A (field, lo_spec, hi_spec) band when some NUMERIC foreign field
    has both a lower bound (field > / >= expr) and an upper bound
    (field < / <= expr) among the residual conjuncts — the shape the
    bucketized range join accelerates."""
    from pyspark.sql.types import NumericType

    lows = {f_: s for op, f_, s in residuals if op in ("$gt", "$gte")}
    highs = {f_: s for op, f_, s in residuals if op in ("$lt", "$lte")}
    for field in lows:
        if field in highs and isinstance(
            foreign.schema[field].dataType, NumericType
        ):
            return field, lows[field], highs[field]
    return None


def _classify_lookup_match(pipeline: list, let: dict):
    """Classify the leading ``$match.$expr`` conjuncts of a correlated
    $lookup pipeline into equality join keys, residual comparisons, and
    uncorrelated foreign pre-filters — the single source of truth for
    both the compile (``_lookup_pipeline``) and the plan explainer
    (``describe_lookup``)."""
    if not pipeline or "$match" not in pipeline[0]:
        raise PipelineError(
            "correlated $lookup pipeline form requires a leading $match")
    match = pipeline[0]["$match"]
    if set(match.keys()) != {"$expr"}:
        raise PipelineError("$lookup pipeline $match must be a single $expr")
    conjuncts = (
        match["$expr"]["$and"]
        if isinstance(match["$expr"], dict) and "$and" in match["$expr"]
        else [match["$expr"]]
    )
    eq_keys: list[tuple[str, str]] = []  # (foreign field, let var)
    residuals: list[tuple[str, str, Any]] = []  # (op, foreign field, local spec)
    pre_filters = []
    for c in conjuncts:
        if not _contains_var(c):
            pre_filters.append(c)
            continue
        ok = (isinstance(c, dict) and len(c) == 1
              and list(c)[0] in _LOOKUP_CMP_OPS
              and isinstance(c[list(c)[0]], list) and len(c[list(c)[0]]) == 2)
        if ok:
            op = list(c)[0]
            a, b = c[op]
            if op == "$eq" and isinstance(a, str) and isinstance(b, str):
                if a.startswith("$$") and b.startswith("$") and not b.startswith("$$"):
                    a, b = b, a
                if b.startswith("$$") and a.startswith("$") and not a.startswith("$$"):
                    var = b[2:]
                    if var not in let:
                        raise PipelineError(
                            f"$lookup: undefined let variable {var!r}")
                    eq_keys.append((a[1:], var))
                    continue
            # inequality (or non-plain $eq): one side must be a plain
            # foreign field path, the other a $$var-referencing local
            # expression — normalized to  field OP local_expr
            def _is_field(x):
                return (isinstance(x, str) and x.startswith("$")
                        and not x.startswith("$$"))

            if _is_field(a) and _contains_var(b) and not _contains_var(a):
                residuals.append((op, a[1:], b))
                continue
            if _is_field(b) and _contains_var(a) and not _contains_var(b):
                residuals.append((_LOOKUP_OP_FLIP[op], b[1:], a))
                continue
        raise PipelineError(
            "$lookup pipeline form supports $$var conjuncts of the shape "
            "field <op> $$var-expression for $eq/$ne/$lt/$lte/$gt/$gte "
            f"only (got {c!r})"
        )
    for _, _, spec_ in residuals:
        for var in _vars_in(spec_):
            if var not in let:
                raise PipelineError(f"$lookup: undefined let variable {var!r}")
    if not eq_keys and not residuals:
        raise PipelineError(
            "$lookup pipeline form needs >=1 $$var-correlated conjunct")
    return eq_keys, residuals, pre_filters


def describe_lookup(spec: dict, foreign: DataFrame | None = None) -> dict:
    """Explain which join strategy a $lookup spec compiles to, WITHOUT
    building any DataFrame plan (round-6 task 7: OlapEngine.explain).

    Returns ``{"from", "as", "strategy", "detail", ...}`` where
    strategy is one of ``equi-packed`` (localField/foreignField or
    $$var-equality: foreign pre-aggregated per key, hash join,
    broadcast-eligible), ``broadcast-uncorrelated`` (single packed row,
    map-side), ``hash-equi+residual`` (equality keys carry the join,
    inequalities filter), ``banded-range`` (two-sided numeric band →
    bucketized equi join), or ``nested-loop`` (one-sided inequality —
    inherently triangular output). ``foreign`` sharpens the band test
    with the actual column type; structurally-banded shapes report
    banded-range optimistically without it."""
    from pyspark.sql.types import NumericType

    out = {"from": spec.get("from"), "as": spec.get("as")}
    let, pipeline = spec.get("let", {}), list(spec.get("pipeline") or [])
    concise = "localField" in spec or "foreignField" in spec
    if concise and not ("localField" in spec and "foreignField" in spec):
        # mirror the compile path's refusal (engine.explain reports it
        # as a diagnostic instead of crashing on a KeyError)
        raise PipelineError("$lookup: localField and foreignField come together")
    if concise and not pipeline and not let:
        out["strategy"] = "equi-packed"
        out["detail"] = (
            f"null-safe hash join on {spec.get('foreignField')} = "
            f"{spec.get('localField')}; foreign side pre-aggregated to one "
            "array row per key (broadcasts when small); an array-typed "
            "side compiles to the multikey deduped-explode equi join"
        )
        return out
    if concise:
        var = "__concise_local"
        while var in let:
            var += "_"
        let = {**let, var: "$" + spec["localField"]}
        eq_extra = {"$eq": ["$" + spec["foreignField"], "$$" + var]}
        if (pipeline and set(pipeline[0]) == {"$match"}
                and set(pipeline[0]["$match"]) == {"$expr"}):
            expr = pipeline[0]["$match"]["$expr"]
            conj = (expr["$and"] if isinstance(expr, dict) and "$and" in expr
                    else [expr])
            pipeline[0] = {"$match": {"$expr": {"$and": conj + [eq_extra]}}}
        else:
            pipeline = [{"$match": {"$expr": eq_extra}}] + pipeline
    if not let and not any(_contains_var(s) for s in pipeline):
        out["strategy"] = "broadcast-uncorrelated"
        out["detail"] = (
            "sub-pipeline runs once over the foreign collection; the "
            "packed single-row result broadcast-cross-joins (map-side, "
            "no shuffle of the local side)"
        )
        return out
    eq_keys, residuals, pre_filters = _classify_lookup_match(pipeline, let)
    out["equality_keys"] = [f for f, _ in eq_keys]
    out["residual_predicates"] = [
        f"{field} {op} <local expr>" for op, field, _ in residuals
    ]
    out["foreign_pre_filters"] = len(pre_filters)
    if eq_keys and not residuals:
        out["strategy"] = "equi-packed"
        out["detail"] = (
            "hash join on the $$var equality keys; foreign side "
            "pre-aggregated per key before the join"
        )
    elif eq_keys:
        out["strategy"] = "hash-equi+residual"
        out["detail"] = (
            "equality conjuncts plan the hash join; inequality "
            "conjuncts ride as residual join predicates"
        )
    else:
        lows = {f_ for op, f_, _ in residuals if op in ("$gt", "$gte")}
        highs = {f_ for op, f_, _ in residuals if op in ("$lt", "$lte")}
        banded = lows & highs
        if banded and foreign is not None:
            banded = {
                f_ for f_ in banded
                if f_ in foreign.columns
                and isinstance(foreign.schema[f_].dataType, NumericType)
            }
        if banded:
            field = sorted(banded)[0]
            out["strategy"] = "banded-range"
            out["detail"] = (
                f"two-sided band on {field}: foreign side bucketized by "
                "approxQuantile boundaries, band becomes an equi bucket "
                "join — shuffle O(|foreign| + |local|*buckets), no "
                "nested loop"
            )
        else:
            out["strategy"] = "nested-loop"
            out["detail"] = (
                "one-sided inequality has no blocking key; output is "
                "inherently triangular (Mongo pays the same per-document)"
            )
    return out


def _lookup_general(
    df: DataFrame, f: DataFrame, arr_cols: list, eq_keys: list,
    residuals: list, let: dict, out: str, finish=None,
) -> DataFrame:
    """Correlated $lookup with non-equality $$var predicates.

    Shape: ONE left join local→foreign (each local row tagged with a
    plan-unique row id), then a group-back on the row id re-packs the
    matches into Mongo's array-of-matches column. The row-id column is
    ``monotonically_increasing_id`` — safe here because the id'd frame
    occurs exactly ONCE in the plan (left join + group-back, never a
    self-join), so the nondeterministic id is computed a single time.

    Join strategy: with >=1 equality key Spark extracts the equi
    conjuncts and plans a hash join, inequalities ride as residual
    conditions — scales like any equi-join. With ONLY inequalities
    forming a band (lo <= field <= hi on a numeric field), the
    foreign side is bucketized by approxQuantile boundaries and the
    band becomes an equi bucket join (operators/rangejoin.py) —
    shuffle O(|foreign| + |local| * buckets_per_band) instead of a
    nested loop. A one-sided inequality has no blocking key at all
    (its OUTPUT is a triangle — inherent to the semantics, Mongo pays
    the same evaluating the sub-pipeline per document); it compiles to
    the nested-loop join Catalyst picks, which is exactly the honest
    cost.
    """
    from mongo_olap_spark.operators.rangejoin import (
        BUCKET_COL,
        banded_range_join,
        bucket_boundaries,
    )

    lid, marker = "__lookup_rowid", "__lookup_matched"
    for reserved in (lid, marker, BUCKET_COL):
        if reserved in df.columns or reserved in f.columns:
            raise PipelineError(
                f"$lookup: column name {reserved!r} is reserved by the "
                "correlated-lookup compile"
            )
    if out in df.columns:
        df = df.drop(out)  # Mongo $lookup overwrites an existing as-field

    local = df.withColumn(lid, F.monotonically_increasing_id())
    # let-var values are LOCAL-side expressions; precompute them as
    # local columns so post-join references are unambiguous
    var_cols = {v: f"__lookup_var{i}" for i, v in enumerate(let)}
    for v, cname in var_cols.items():
        local = local.withColumn(cname, compile_expr(let[v]))
    bindings = {v: local[cname] for v, cname in var_cols.items()}
    fm = f.withColumn(marker, F.lit(True))

    with _bind(**bindings):
        cond = None
        for field, var in eq_keys:
            c = fm[field].eqNullSafe(_lookup_var(var))
            cond = c if cond is None else cond & c
        for op, field, spec_ in residuals:
            c = _LOOKUP_CMP_COLS[op](fm[field], compile_expr(spec_))
            cond = c if cond is None else cond & c
        band = None if eq_keys else _detect_band(residuals, fm)
        if band is not None:
            field, lo_spec, hi_spec = band
            lo, hi = compile_expr(lo_spec), compile_expr(hi_spec)

    if band is not None:
        bounds = bucket_boundaries(fm, field)
        joined = banded_range_join(
            local, fm, lo, hi, fm[field], cond, bounds=bounds, how="left"
        )
    else:
        joined = local.join(fm, cond, "left")

    packed_struct = F.struct(*[fm[c].alias(c) for c in arr_cols])
    packed = F.collect_list(F.when(fm[marker], packed_struct))
    if finish is not None:
        packed = finish(packed)
    agg = joined.groupBy(lid).agg(
        *[F.first(local[c]).alias(c) for c in df.columns],
        packed.alias(out),
    )
    return agg.drop(lid)


def _lookup_pipeline(df: DataFrame, spec: dict, collections) -> DataFrame:
    """Correlated $lookup (``from``/``let``/``pipeline`` form).

    Mongo evaluates the sub-pipeline per local document; the Spark-first
    compile turns the correlation into a relational join instead:

    - $$var equality conjuncts of the leading ``$match.$expr`` become
      JOIN KEYS (the foreign side pre-aggregates per key — one array
      row per key, so the join never multiplies local rows and the
      packed side broadcasts when small, exactly like the
      localField/foreignField path);
    - conjuncts that reference no $$var are FOREIGN PRE-FILTERS,
      applied before packing (pushdown);
    - ``$sort`` / ``$limit`` after the $match (round 5) order and trim
      the per-document match array — the top-N-matches idiom — as a
      JVM array_sort comparator + slice over the packed structs, an
      O(matches log matches) per-key operation with no extra shuffle;
    - a trailing ``$project`` (inclusion form) prunes the foreign
      columns that enter the packed array.

    Non-equality $$var predicates (round 5) go through
    ``_lookup_general``: a single left join (hash join when equality
    keys exist; bucketized band join for two-sided numeric ranges;
    nested loop only for one-sided inequalities, whose output is
    inherently a triangle) followed by a row-id group-back that
    restores the array-of-matches shape. $eq follows Mongo semantics
    (null == null matches): eqNullSafe keys.
    """
    foreign = _resolve(collections, spec["from"])
    let, out = spec.get("let", {}), spec["as"]
    pipeline = spec.get("pipeline") or []
    if "localField" in spec or "foreignField" in spec:
        # Mongo 5.0 concise correlated form: localField/foreignField
        # given WITH a pipeline add an equality ON TOP of the
        # pipeline's own $match — rewritten here into the let/$expr
        # form so one compile path serves both spellings
        if not ("localField" in spec and "foreignField" in spec):
            raise PipelineError(
                "$lookup: localField and foreignField come together")
        var = "__concise_local"
        while var in let:
            var += "_"
        let = {**let, var: "$" + spec["localField"]}
        eq_extra = {"$eq": ["$" + spec["foreignField"], "$$" + var]}
        pipeline = list(pipeline)
        if (pipeline and set(pipeline[0]) == {"$match"}
                and set(pipeline[0]["$match"]) == {"$expr"}):
            expr = pipeline[0]["$match"]["$expr"]
            conj = (expr["$and"] if isinstance(expr, dict) and "$and" in expr
                    else [expr])
            pipeline[0] = {"$match": {"$expr": {"$and": conj + [eq_extra]}}}
        else:
            pipeline = [{"$match": {"$expr": eq_extra}}] + pipeline
    if not let and not any(_contains_var(s) for s in pipeline):
        # UNCORRELATED sub-pipeline (round 5): no $$vars anywhere, so
        # it runs ONCE over the foreign collection — arbitrary stages,
        # full compile_pipeline — and every local document receives
        # the same match array. The packed result is a single row, so
        # the join is a broadcast cross join: map-side, no shuffle of
        # the local side. (Mongo idiom: [{$count: "n"}], a filtered
        # dimension list, a pre-aggregated stats doc.)
        sub = compile_pipeline(foreign, pipeline, collections=collections)
        if out in df.columns:
            df = df.drop(out)
        packed_arr = F.collect_list(
            F.struct(*[F.col(c) for c in sub.columns])
        )
        if pipeline and list(pipeline[-1]) == ["$sort"]:
            # the array preserves the sub-pipeline's final sort order
            sort_spec = pipeline[-1]["$sort"]
            packed_arr = F.array_sort(packed_arr, _sort_comparator(sort_spec))
        packed = sub.agg(packed_arr.alias(out))
        joined = df.crossJoin(F.broadcast(packed))
        arr_type = packed.schema[out].dataType
        return joined.withColumn(
            out, F.coalesce(F.col(out), F.array().cast(arr_type))
        )
    eq_keys, residuals, pre_filters = _classify_lookup_match(pipeline, let)
    rest = list(pipeline[1:])
    sort_spec = limit_n = project = None
    if rest and list(rest[0]) == ["$sort"]:
        sort_spec = rest.pop(0)["$sort"]
        if not (isinstance(sort_spec, dict) and sort_spec and all(
            isinstance(k, str) and v in (1, -1) for k, v in sort_spec.items()
        )):
            raise PipelineError(
                "$lookup pipeline $sort requires {field: 1|-1, ...}")
    if rest and list(rest[0]) == ["$limit"]:
        limit_n = rest.pop(0)["$limit"]
        if not (isinstance(limit_n, int) and limit_n > 0):
            raise PipelineError("$lookup pipeline $limit requires a "
                                "positive literal integer")
    if rest and list(rest[-1]) == ["$project"]:
        project, rest = rest[-1]["$project"], rest[:-1]
    if rest:
        raise PipelineError(
            "$lookup pipeline form supports [$match, $sort?, $limit?, "
            f"$project?] only (unsupported stages: {[list(s)[0] for s in rest]})"
        )
    sort_keys = list(sort_spec) if sort_spec else []

    f = foreign
    for flt in pre_filters:
        f = f.filter(compile_expr(flt).cast("boolean"))
    if project is not None:
        keep = [k for k, v in project.items() if v in (1, True)]
        if not keep:
            # exclusion-form ({"_id": 0}) would pack zero-field structs;
            # refuse by name like the compiler's other unsupported shapes
            raise PipelineError(
                "$lookup pipeline $project supports inclusion form only "
                f"(got {project!r} with no included fields)"
            )
        # join/residual/sort keys must survive until packing even if
        # projected away
        f = f.select(*dict.fromkeys(
            keep + [k for k, _ in eq_keys] + [k for _, k, _ in residuals]
            + sort_keys
        ))
        arr_cols = keep
    else:
        arr_cols = list(foreign.columns)
    # sort keys ride inside the packed struct so the per-row array can
    # be ordered AFTER packing; _finish_lookup_array prunes them
    pack_cols = list(dict.fromkeys(arr_cols + sort_keys))

    if residuals:
        return _lookup_general(
            df, f, pack_cols, eq_keys, residuals, let, out,
            finish=lambda c: _finish_lookup_array(
                c, sort_spec, limit_n, arr_cols, pack_cols),
        )

    if out in df.columns:
        df = df.drop(out)  # Mongo $lookup overwrites an existing as-field
    key_aliases = [f"__k{i}" for i in range(len(eq_keys))]
    packed = f.groupBy(
        *[F.col(field).alias(al) for (field, _), al in zip(eq_keys, key_aliases)]
    ).agg(
        _finish_lookup_array(
            F.collect_list(F.struct(*[F.col(c) for c in pack_cols])),
            sort_spec, limit_n, arr_cols, pack_cols,
        ).alias(out)
    )
    cond = None
    for (_, var), al in zip(eq_keys, key_aliases):
        c = compile_expr(let[var]).eqNullSafe(packed[al])
        cond = c if cond is None else (cond & c)
    joined = df.join(packed, cond, "left").drop(*key_aliases)
    arr_type = packed.schema[out].dataType
    return joined.withColumn(out, F.coalesce(F.col(out), F.array().cast(arr_type)))


def _sort_comparator(sort_spec: dict):
    """Mongo $sort order over packed match structs as an array_sort
    comparator (−1/0/1), null-first ascending like Mongo's BSON order
    (null sorts before numbers/strings)."""
    keys = list(sort_spec.items())

    def cmp(x: Column, y: Column) -> Column:
        expr = F.lit(0)
        for k, direction in reversed(keys):
            a, b = x[k], y[k]
            lo, hi = (F.lit(-1), F.lit(1)) if direction == 1 else (
                F.lit(1), F.lit(-1))
            expr = (
                F.when(a.isNull() & b.isNull(), expr)
                .when(a.isNull(), lo)
                .when(b.isNull(), hi)
                .when(a < b, lo)
                .when(a > b, hi)
                .otherwise(expr)
            )
        return expr

    return cmp


def _finish_lookup_array(
    arr: Column, sort_spec, limit_n, arr_cols: list, pack_cols: list
) -> Column:
    """Order, trim, and prune a packed array-of-matches: $sort inside a
    $lookup sub-pipeline becomes a JVM array_sort comparator over the
    packed structs (Mongo's documented array order), $limit a slice —
    top-N-matches-per-document costs O(matches log matches) per key,
    never a shuffle — and sort-only carrier fields are pruned."""
    if sort_spec:
        arr = F.array_sort(arr, _sort_comparator(sort_spec))
    if limit_n:
        arr = F.slice(arr, 1, limit_n)
    if pack_cols != arr_cols:
        arr = F.transform(
            arr, lambda x: F.struct(*[x[c].alias(c) for c in arr_cols])
        )
    return arr


def _current_collation() -> dict | None:
    """The aggregate-command collation document matching the ACTIVE
    compile scope — for re-entering :func:`compile_pipeline` from a
    sub-pipeline stage ($facet / $unionWith). Without this the
    recursive compile would push ci=False and the sub-pipeline would
    silently run binary under a requested CI collation (r10)."""
    return {"locale": "en", "strength": _strength()} if _ci() else None


def _union_with(df: DataFrame, spec, collections) -> DataFrame:
    if isinstance(spec, str):
        other = _resolve(collections, spec)
    else:
        other = _resolve(collections, spec["coll"])
        if spec.get("pipeline"):
            other = compile_pipeline(other, spec["pipeline"], collections=collections,
                                     collation=_current_collation())
    return df.unionByName(other, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# extended stages: $bucket / $bucketAuto / $facet / $graphLookup / $out
# (wired into compile_pipeline via _EXTENDED_STAGES below)
# ---------------------------------------------------------------------------

def _bucket(df: DataFrame, spec: dict) -> DataFrame:
    group_expr = compile_expr(spec["groupBy"])
    bounds = spec["boundaries"]
    default = spec.get("default")
    cmp_expr, cmp_bounds = group_expr, bounds
    if _ci() and any(isinstance(b, str) for b in bounds):
        # CI collation (r10): string boundaries bracket the lower()
        # image of a string-typed group key; the emitted _id keeps the
        # boundary literal AS GIVEN. Mongo requires boundaries sorted
        # per the collation, so lowered bounds that collide or reorder
        # ("B" < "a" binary but "b" > "a" CI) refuse rather than
        # silently mis-bracketing.
        if not all(isinstance(b, str) for b in bounds):
            raise PipelineError(
                "collation: $bucket with mixed string/non-string "
                "boundaries is not collation-rewritten; use same-type "
                "boundaries or drop the collation")
        if not _is_string_expr(df, group_expr):
            raise PipelineError(
                "collation: $bucket with string boundaries over a "
                "non-string groupBy never brackets any document; fix "
                "the groupBy type or drop the collation")
        lowered = [_fold_lit(b) for b in bounds]
        if any(a >= b for a, b in zip(lowered, lowered[1:])):
            raise PipelineError(
                "collation: $bucket boundaries are not strictly "
                "increasing under the case-insensitive collation "
                "(lower()-image collision or reorder); adjust the "
                "boundaries or drop the collation")
        cmp_expr, cmp_bounds = _fold_col(group_expr), lowered
    bucket = None
    for (lo, hi), out_id in zip(
        zip(cmp_bounds, cmp_bounds[1:]), bounds
    ):
        cond = (cmp_expr >= F.lit(lo)) & (cmp_expr < F.lit(hi))
        bucket = F.when(cond, F.lit(out_id)) if bucket is None else bucket.when(cond, F.lit(out_id))
    bucket = bucket.otherwise(F.lit(default)) if default is not None else bucket
    out_spec = spec.get("output", {"count": {"$sum": 1}})
    if _ci():
        _refuse_ci_accumulators(df, {k: v for k, v in out_spec.items()})
    aggs = [_compile_accumulator(v, None).alias(k) for k, v in out_spec.items()]
    grouped = df.groupBy(bucket.alias("_id")).agg(*aggs)
    if default is None:
        # docs outside the boundaries error in Mongo; without a default
        # we drop the null bucket rather than silently grouping them
        grouped = grouped.filter(F.col("_id").isNotNull())
    return grouped


def _bucket_auto(df: DataFrame, spec: dict) -> DataFrame:
    # Equi-height via exact global rank (range-partitioned two-pass,
    # operators/ranking.py) — same buckets as an unpartitioned ntile
    # window but no task ever holds the whole collection.
    from mongo_olap_spark.operators.ranking import scalable_ntile

    if "granularity" in spec:
        # preferred-number boundary rounding (R5/E6/1-2-5/...) would
        # silently change every boundary if dropped — refuse by name
        raise PipelineError(
            "$bucketAuto: granularity (preferred-number rounding) is "
            "not supported; omit it for exact equi-height buckets"
        )
    group_expr = compile_expr(spec["groupBy"])
    n = spec["buckets"]
    out_spec = spec.get("output", {"count": {"$sum": 1}})
    if _ci():
        _refuse_ci_accumulators(df, {k: v for k, v in out_spec.items()})
    aggs = [_compile_accumulator(v, None).alias(k) for k, v in out_spec.items()]
    ci_strings = _ci() and _is_string_expr(df, group_expr)
    if ci_strings:
        # CI collation (r10): equi-height buckets in lower()-image
        # order with the binary key as the deterministic within-class
        # tie-break (the same refinement CI $sort uses — Mongo leaves
        # within-class order unspecified). Plain binary order would
        # e.g. rank "Banana" before "apple". The range split keys on
        # the lower() image, so a CI class never straddles a range.
        bucketed = scalable_ntile(
            df.withColumn("__bkey_ci", _fold_col(group_expr))
            .withColumn("__bkey", group_expr),
            n, ["__bkey_ci", "__bkey"], bucket_col="__bucket",
        ).drop("__bkey_ci", "__bkey")
        # _id.min/_id.max: the bucket's extrema UNDER THE COLLATION —
        # the (lower(v), v)-least/greatest member, so the surfaced
        # representative is deterministic as well
        id_struct = F.struct(
            F.min_by(group_expr, F.struct(_fold_col(group_expr), group_expr)).alias("min"),
            F.max_by(group_expr, F.struct(_fold_col(group_expr), group_expr)).alias("max"),
        ).alias("_id")
    else:
        bucketed = scalable_ntile(
            df.withColumn("__bkey", group_expr), n, ["__bkey"], bucket_col="__bucket"
        ).drop("__bkey")
        id_struct = F.struct(
            F.min(group_expr).alias("min"), F.max(group_expr).alias("max")
        ).alias("_id")
    return (
        bucketed.groupBy("__bucket")
        .agg(id_struct, *aggs)
        .drop("__bucket")
    )


def _facet(df: DataFrame, spec: dict, collections) -> DataFrame:
    # Mongo $facet emits ONE document: {facet_name: [results...], ...}.
    # Compile each sub-pipeline over the same (cached) input, pack each
    # result into a single array row, cross-join the singletons.
    from mongo_olap_spark.operators.facet import facet as facet_op

    for name in spec:
        # Mongo rejects dotted / $-prefixed facet output names
        if not isinstance(name, str) or "." in name or name.startswith("$"):
            raise PipelineError(f"$facet: invalid output field name {name!r}")
    fs = facet_op(
        df,
        **{
            name: (lambda d, p=sub: compile_pipeline(
                d, p, collections=collections,
                collation=_current_collation()))
            for name, sub in spec.items()
        },
    )
    packed = None
    for name in spec:
        sub = fs[name]
        one = sub.agg(F.collect_list(F.struct(*sub.columns)).alias(name))
        packed = one if packed is None else packed.crossJoin(one)
    return packed


def _graph_lookup(df: DataFrame, spec: dict, collections) -> DataFrame:
    from mongo_olap_spark.operators.graph import graph_lookup

    out_path = spec.get("as")
    if not (isinstance(out_path, str) and out_path):
        raise PipelineError("$graphLookup requires a non-empty string 'as'")
    if "." in out_path:
        # dotted `as` writes into a nested field, like $lookup's
        tmp = "__gl_as_tmp"
        if tmp in df.columns:
            raise PipelineError(
                f"$graphLookup: column name {tmp!r} is reserved by the compiler"
            )
        res = _graph_lookup(df, {**spec, "as": tmp}, collections)
        return _set_nested(res, out_path, F.col(tmp)).drop(tmp)
    foreign = _resolve(collections, spec["from"])
    start = spec["startWith"]
    if not (isinstance(start, str) and start.startswith("$")):
        raise PipelineError("$graphLookup supports field-path startWith only")
    start_field = start[1:]
    conn_from, conn_to, out = (
        spec["connectFromField"], spec["connectToField"], spec["as"],
    )
    # Mongo default is EXHAUSTIVE traversal (visited-set BFS, cycles
    # terminate); maxDepth bounds it when given
    max_depth = spec.get("maxDepth")
    if "restrictSearchWithMatch" in spec:
        # restriction applies to every traversed document — filter the
        # foreign side BEFORE building edges, so excluded docs neither
        # match nor relay the walk (Mongo's contract)
        foreign = foreign.filter(
            compile_match(spec["restrictSearchWithMatch"], foreign.schema)
        )
    depth_field = spec.get("depthField")
    # traversal value graph: frontier v matches docs with connectTo == v,
    # which emit their connectFrom as the next frontier
    edges = foreign.select(
        F.col(conn_to).alias("src"), F.col(conn_from).alias("dst")
    )
    # Mongo maxDepth counts recursions past the initial lookup: docs
    # are matched for frontier values at depths 0..maxDepth, so we
    # traverse maxDepth value-hops and match docs on {start} ∪ reached.
    # engine-reserved internal names (__gl_*): foreign collections
    # with columns named start_key/val/__depth previously made the
    # groupBy/doc-struct references ambiguous
    starts = df.select(F.col(start_field).alias("__gl_sk")).distinct()
    reached = graph_lookup(
        starts, edges, max_depth=max_depth,
        start_col="__gl_sk", src_col="src", dst_col="dst",
    )
    # matched docs: connectTo ∈ {start} ∪ reached nodes (Mongo returns
    # the documents, not the values)
    hit_vals = starts.select(
        F.col("__gl_sk"), F.col("__gl_sk").alias("__gl_val"),
        F.lit(0).alias("__gl_depth"),
    ).unionByName(reached.select(
        F.col("start_key").alias("__gl_sk"),
        F.col("node").alias("__gl_val"),
        F.col("depth").alias("__gl_depth"),
    ))
    docs = hit_vals.join(
        foreign, hit_vals["__gl_val"] == foreign[conn_to]
    ).drop("__gl_val")
    if depth_field:
        # Mongo SETS the field on each traversed doc: a colliding
        # existing field is overwritten in place (same position), a
        # fresh one is appended (duplicate-field ambiguity found by
        # the r6 graphLookup fuzz)
        d = F.col("__gl_depth").cast("long").alias(depth_field)
        fields = [d if c == depth_field else F.col(c) for c in foreign.columns]
        if depth_field not in foreign.columns:
            fields.append(d)
        doc_struct = F.struct(*fields)
    else:
        doc_struct = F.struct(*foreign.columns)
    packed = docs.groupBy("__gl_sk").agg(
        F.collect_list(doc_struct).alias(out)
    ).withColumnRenamed("__gl_sk", "__gl_start")
    joined = df.join(
        packed, F.col(start_field) == F.col("__gl_start"), "left"
    ).drop("__gl_start")
    arr_type = packed.schema[out].dataType
    return joined.withColumn(out, F.coalesce(F.col(out), F.array().cast(arr_type)))


# ---------------------------------------------------------------------------
# cube definition from a pipeline — the reference's cube-config flow:
# a cube IS a [$match?, $group] pipeline over a collection. This
# translates that prefix into a CubeSpec (dims/measures/filter_sql) so
# pipeline-defined cubes get the whole cube stack: materialization,
# IVM with retraction, lattice rollups and metadata routing.
# ---------------------------------------------------------------------------

_MATCH_SQL_OPS = {"$gt": ">", "$gte": ">=", "$lt": "<", "$lte": "<="}


def match_to_sql(query: dict) -> str:
    """ANSI-SQL WHERE twin of the supported $match subset (scalar
    comparisons, $in, $ne, $exists, $and/$or) — what CubeSpec stores
    as ``filter_sql``."""
    parts: list[str] = []
    for key, val in query.items():
        if key == "$and":
            parts.append("(" + " AND ".join(match_to_sql(q) for q in val) + ")")
        elif key == "$or":
            parts.append("(" + " OR ".join(match_to_sql(q) for q in val) + ")")
        elif key.startswith("$"):
            raise PipelineError(f"cannot express {key!r} as cube filter_sql")
        else:
            parts.append(_field_sql(key, val))
    return " AND ".join(parts) if parts else "TRUE"


def _sql_lit(v: Any) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return repr(v)


def _field_sql(field: str, val: Any) -> str:
    if isinstance(val, dict) and any(k.startswith("$") for k in val):
        sub = []
        for op, v in val.items():
            if op in _MATCH_SQL_OPS:
                sub.append(f"{field} {_MATCH_SQL_OPS[op]} {_sql_lit(v)}")
            elif op == "$in":
                sub.append(f"{field} IN ({', '.join(_sql_lit(x) for x in v)})")
            elif op == "$ne":
                sub.append(
                    f"({field} IS NULL OR {field} <> {_sql_lit(v)})"
                    if v is not None else f"{field} IS NOT NULL"
                )
            elif op == "$exists":
                sub.append(f"{field} IS NOT NULL" if v else f"{field} IS NULL")
            else:
                raise PipelineError(f"cannot express {op!r} as cube filter_sql")
        return "(" + " AND ".join(sub) + ")"
    if val is None:
        return f"{field} IS NULL"
    return f"{field} = {_sql_lit(val)}"


def _cube_pipeline_prefix(
    pipeline: list[dict], what: str = "cube"
) -> tuple[str | None, dict]:
    """Split a ``[$match?, $group]`` pipeline into (filter_sql, group)."""
    filter_sql: str | None = None
    group: dict | None = None
    for stage in pipeline:
        [(sname, spec)] = stage.items()
        if sname == "$match":
            if group is not None or filter_sql is not None:
                raise PipelineError(f"{what} pipeline must be [$match?, $group]")
            filter_sql = match_to_sql(spec)
        elif sname == "$group":
            if group is not None:
                raise PipelineError(f"{what} pipeline supports one $group")
            group = spec
        else:
            raise PipelineError(
                f"{what} pipelines support [$match?, $group] only (got {sname})"
            )
    if group is None:
        raise PipelineError(f"{what} pipeline needs a $group stage")
    return filter_sql, group


def _cube_dims(id_spec) -> list:
    """``$group._id`` document → named Dimension list (``{dim: "$path" |
    {"$dateTrunc": {date, unit}}}``; ``None`` means the zero-dim global
    group, Mongo's ``_id: null``)."""
    from mongo_olap_spark.cube.spec import Dimension

    if id_spec is None:
        id_spec = {}
    if not isinstance(id_spec, dict) or any(k.startswith("$") for k in id_spec):
        raise PipelineError("cube $group._id must be a {dim: expr} document")
    dims = []
    for dim_name, dspec in id_spec.items():
        if isinstance(dspec, str) and dspec.startswith("$"):
            dims.append(Dimension(dim_name, path=dspec[1:]))
        elif isinstance(dspec, dict) and set(dspec) == {"$dateTrunc"}:
            dt = dspec["$dateTrunc"]
            date = dt["date"]
            if not (isinstance(date, str) and date.startswith("$")):
                raise PipelineError("$dateTrunc date must be a field path")
            extra = set(dt) - {"date", "unit"}
            if extra:
                # cube dims carry a plain granularity; silently
                # dropping binSize/startOfWeek/timezone would build a
                # cube on the WRONG dimension — refuse loudly (use the
                # pipeline compiler directly for anchored bins)
                raise PipelineError(
                    "cube $dateTrunc dimensions support {date, unit} "
                    f"only (got extra {sorted(extra)})"
                )
            dims.append(
                Dimension(dim_name, path=date[1:], granularity=dt["unit"])
            )
        else:
            raise PipelineError(f"unsupported cube dimension expr {dspec!r}")
    return dims


#: the plain accumulators (field-path argument) and the request op
#: each routes as; ``{$sum: 1}`` is the count
_PLAIN_OPS = {
    "$sum": "sum", "$avg": "avg", "$min": "min", "$max": "max",
    "$stdDevPop": "stddev_pop", "$stdDevSamp": "stddev_samp",
}


def _plain_acc_measure(gname: str, op: str, arg) -> tuple | None:
    """Translate ONE plain ``$group`` accumulator into the router's
    measure-tuple vocabulary — the map shared by cube definition
    (:func:`cube_spec_from_pipeline`) and routing
    (:func:`aggregate_requests_from_pipeline`). None when ``op`` is not
    a plain accumulator."""
    if op == "$sum" and isinstance(arg, (int, float)) and not isinstance(arg, bool):
        # {$sum: c} answers c × the row count: only c = 1 is a count
        if arg != 1:
            raise PipelineError("literal $sum must be {$sum: 1} (count)")
        return (gname, "count")
    if op not in _PLAIN_OPS:
        return None
    if not (isinstance(arg, str) and arg.startswith("$")):
        raise PipelineError(f"accumulator {op} needs a field path")
    return (gname, _PLAIN_OPS[op], arg[1:])


def cube_spec_from_pipeline(name: str, source: str, pipeline: list[dict]):
    """Translate a ``[$match?, $group]`` pipeline into a CubeSpec.

    ``_id`` must be a document ``{dim: "$path" | {"$dateTrunc": ...}}``
    (named dimensions — the cube needs stable dim names); accumulators
    map $sum:1→count, $sum→sum, $avg→avg, $min/$max→min/max, and (r10)
    $stdDevPop/$stdDevSamp→the dispersion family's decomposed
    (Σx, Σx², n) measures — retractable and family-bound at routing
    time (any stored dispersion form answers any requested form).
    """
    from mongo_olap_spark.cube.spec import CubeSpec, Measure

    filter_sql, group = _cube_pipeline_prefix(pipeline)
    id_spec = group.get("_id")
    if id_spec is None:
        raise PipelineError("cube $group._id must be a {dim: expr} document")
    dims = _cube_dims(id_spec)

    measures = []
    for mname, mspec in group.items():
        if mname == "_id":
            continue
        [(op, arg)] = mspec.items()
        m = _plain_acc_measure(mname, op, arg)
        if m is None:
            raise PipelineError(f"unsupported cube accumulator {op!r}")
        measures.append(Measure(*m))

    return CubeSpec(
        name=name, source=source,
        dimensions=tuple(dims), measures=tuple(measures),
        filter_sql=filter_sql,
    )


def _special_acc_measure(gname: str, op: str, arg) -> tuple[tuple, str | None]:
    """Translate ONE special-family $group accumulator into the
    router's measure-tuple vocabulary: ``(measure, post)`` where
    ``post`` is None | "array_wrap". The $addToSet+$size idiom is NOT
    handled here — it needs the trailing $project, parsed by
    :func:`aggregate_requests_from_pipeline`."""

    def field_path(v, what):
        if not (isinstance(v, str) and v.startswith("$")):
            raise PipelineError(f"{op} {what} must be a field path")
        return v[1:]

    if op == "$median":
        a = arg if isinstance(arg, dict) else {"input": arg}
        return (
            gname, "quantile_exact", field_path(a.get("input"), "input"), 0.5,
        ), None
    if op == "$percentile":
        if not isinstance(arg, dict):
            raise PipelineError("$percentile takes {input, p, method}")
        ps = arg.get("p")
        if not (isinstance(ps, list) and ps and all(
                isinstance(x, (int, float)) and not isinstance(x, bool)
                for x in ps)):
            raise PipelineError(
                "routable $percentile takes a non-empty list of literal p values"
            )
        if len(ps) == 1:
            return (
                gname, "quantile_exact", field_path(arg.get("input"), "input"),
                float(ps[0]),
            ), "array_wrap"
        # multi-p (r10): quantile_rollup answers EVERY p from the same
        # single window pass, emitting the array in p order — already
        # Mongo's $percentile output shape, no post transform
        return (
            gname, "quantile_exact", field_path(arg.get("input"), "input"),
            tuple(float(x) for x in ps),
        ), None
    if op in ("$minN", "$maxN"):
        if not isinstance(arg, dict):
            raise PipelineError(f"{op} takes {{input, n}}")
        n = arg.get("n")
        if not (isinstance(n, int) and not isinstance(n, bool) and n > 0):
            raise PipelineError(f"{op} requires a positive literal n")
        return (
            gname, "min_n" if op == "$minN" else "max_n",
            field_path(arg.get("input"), "input"), n,
        ), None
    if op in ("$topN", "$bottomN"):
        if not isinstance(arg, dict):
            raise PipelineError(f"{op} takes {{n, sortBy, output}}")
        n = arg.get("n")
        if not (isinstance(n, int) and not isinstance(n, bool) and n > 0):
            raise PipelineError(f"{op} requires a positive literal n")
        sort_by = arg.get("sortBy")
        if not (isinstance(sort_by, dict) and len(sort_by) == 1):
            raise PipelineError(
                f"routable {op} takes a single-key sortBy (the two-level "
                "route sorts on one dimension)"
            )
        [(skey, sdir)] = sort_by.items()
        if sdir not in (1, -1):
            raise PipelineError(f"{op} sortBy direction must be 1 or -1")
        payload = field_path(arg.get("output"), "output")
        if payload == skey:
            raise PipelineError(
                f"routable {op} output must differ from the sortBy key "
                "(use $minN/$maxN for values of the sort key itself)"
            )
        # Mongo presents results in sortBy order. With an ASCENDING
        # sortBy, $topN = first k (top_by) and $bottomN = last k
        # (bottom_by), both presented ascending. A DESCENDING sortBy
        # mirrors: $topN = the k largest (bottom_by's selection) and
        # $bottomN = the k smallest (top_by's selection), both
        # PRESENTED descending — the request's 6th element carries
        # that presentation flag into top_by_rollup.
        if sdir == 1:
            mop = "top_by" if op == "$topN" else "bottom_by"
            return (gname, mop, skey, payload, n), None
        mop = "bottom_by" if op == "$topN" else "top_by"
        return (gname, mop, skey, payload, n, True), None
    raise PipelineError(f"accumulator {op!r} is not special-family routable")


def _presentation(pipeline: list[dict]) -> tuple[list[dict], tuple | None]:
    """Rewrite a trailing $sortByCount / $count into its $group
    definition so a count cube answers it (r6): $sortByCount IS
    [$group {_id, count: {$sum: 1}}, $sort {count: -1}]; $count IS the
    zero-dimension rollup. Returns the pipeline to route and the
    presentation step the answer then takes."""
    last = pipeline[-1] if pipeline else {}
    arg = next(iter(last.values())) if len(last) == 1 else None
    if not (isinstance(arg, str) and arg):
        return pipeline, None
    if "$sortByCount" in last and arg.startswith("$"):
        return pipeline[:-1] + [{"$group": {
            "_id": {"__sbc": arg}, "count": {"$sum": 1},
        }}], ("present", "sortByCount")
    if "$count" in last:
        return pipeline[:-1] + [{"$group": {
            "_id": {}, "__cnt": {"$sum": 1},
        }}], ("present", "count", arg)
    return pipeline, None


def _routable_name(name: str) -> str:
    """A routed answer names its columns like cube dims and measures do
    (the cube spec's identifier rule); any other name — Mongo allows
    ``"my-n"`` — is served by compiling the pipeline instead."""
    from mongo_olap_spark.cube.spec import _ident

    try:
        return _ident(name)
    except ValueError as e:
        raise PipelineError(f"routing needs identifier output names: {e}") from None


def aggregate_requests_from_pipeline(
    pipeline: list[dict],
) -> tuple[str | None, list, list, list[str]]:
    """Parse a routable aggregate — ``[$match?, $group[, $project]]``,
    or ``[$match?, $sortByCount | $count]`` — into router request parts
    sharing the group keys: the one parse behind
    ``OlapEngine.query_pipeline``, ``explain`` and ``advise_cubes``.

    Accumulators:

    - plain: ``{$sum: 1}`` → ``(out, "count")``; ``$sum`` / ``$avg`` /
      ``$min`` / ``$max`` / ``$stdDevPop`` / ``$stdDevSamp`` over
      ``"$p"`` → ``(out, op, p)``. Any other literal ``$sum`` refuses.
    - special (C19–C24, each an exact two-level route): ``$median`` →
      ``(out, "quantile_exact", p, 0.5)``; ``$percentile`` with a
      single literal p → ``(out, "quantile_exact", p, q)`` plus the
      ``array_wrap`` post, with several → ``(…, (q1, q2, …))`` (the
      rollup emits the array in p order); ``$minN`` / ``$maxN`` →
      ``(out, "min_n"|"max_n", p, n)``; ``$topN`` / ``$bottomN`` with
      a single-key sortBy ``{s: ±1}`` and ``output: "$p"`` →
      ``(out, "top_by"|"bottom_by", s, p, n[, present_desc])`` (a
      descending sortBy swaps the selection op and presents in sortBy
      order, as Mongo does).
    - ``{tmp: {$addToSet: "$p"}}`` consumed by a trailing ``$project
      {out: {$size: "$tmp"}}`` → ``(out, "count_distinct", p)``, the
      Mongo count-distinct idiom. The ``$project`` may also pass other
      accumulators through with ``1``/``true`` (``_id`` must not be
      excluded — the group keys are the join keys); accumulators it
      drops are not computed, and a ``{$size}`` output named like
      another accumulator replaces it (Mongo inclusion-``$project``
      semantics). A raw ``$addToSet`` that no ``$size`` consumes
      refuses: distinct SETS are not a bounded routable answer.

    ``_id`` is a ``{dim: "$path" | {$dateTrunc: {date, unit}}}``
    document (``{}`` = one global group); ``_id: null`` routes only a
    lone special accumulator.

    Returns ``(filter_sql, dims, parts, out_cols)``:

    - ``parts``: ``("plain", measures)`` holding EVERY plain
      accumulator (one rollup), then one ``("special", measure, post)``
      per special accumulator (a two-level rollup aggregates the
      qualifying-cell *slice*, so it cannot share a request with
      measures that aggregate all cells). A trailing $sortByCount /
      $count adds a last ``("present", "sortByCount")`` /
      ``("present", "count", alias)`` step: it has no request, it
      shapes the routed answer.
    - ``out_cols``: the requested accumulator names in presentation
      order (the $group's order, or the trailing $project's).

    Each part is routed on its own (different parts may be answered by
    different cubes, one shared two-level cube, or the router's source
    fallback) and the part frames join on the group keys. The quantile
    families answer with the engine's exact type-1 discrete quantile
    (an actual data value) — Mongo's own $median/$percentile are
    t-digest approximations — and the routed and source-fallback paths
    share the same rollup, so answers never depend on cube presence.

    Anything else raises :class:`PipelineError`: the caller compiles
    the pipeline instead. That includes output names (group keys,
    accumulators, ``$size`` outputs) that are not SQL identifiers.
    """
    pipeline, present = _presentation(pipeline)
    tail_project: dict | None = None
    body = pipeline
    if len(pipeline) >= 2 and list(pipeline[-1]) == ["$project"]:
        tail_project = pipeline[-1]["$project"]
        body = pipeline[:-1]
    filter_sql, group = _cube_pipeline_prefix(body, what="routable aggregate")
    id_spec = group.get("_id")
    for name in id_spec if isinstance(id_spec, dict) else ():
        _routable_name(name)
    dims = _cube_dims(id_spec)
    dim_names = {d.name for d in dims}
    accs = {k: v for k, v in group.items() if k != "_id"}
    plain: list[tuple] = []
    specials: list[tuple] = []  # (measure_tuple, post)
    sets: dict[str, str] = {}   # $addToSet accumulators: name -> path
    order: list[str] = []       # $group accumulator order
    for gname, mspec in accs.items():
        if gname in dim_names:
            raise PipelineError(
                f"accumulator {gname!r} collides with a dimension")
        if not (isinstance(mspec, dict) and len(mspec) == 1):
            raise PipelineError(
                f"accumulator for {gname!r} must be a single-op document")
        [(op, arg)] = mspec.items()
        order.append(_routable_name(gname))
        if op == "$addToSet":
            if not (isinstance(arg, str) and arg.startswith("$")):
                raise PipelineError(
                    "routable $addToSet needs a field-path argument")
            sets[gname] = arg[1:]
        elif (m := _plain_acc_measure(gname, op, arg)) is not None:
            plain.append(m)
        else:
            specials.append(_special_acc_measure(gname, op, arg))
    if sets and tail_project is None:
        raise PipelineError(
            "$addToSet routes only through the trailing "
            "$project {out: {$size: '$<set field>'}} idiom")
    if tail_project is not None:
        if not sets:
            raise PipelineError(
                "trailing $project is only routable with an "
                "$addToSet (+$size) accumulator")
        if not isinstance(tail_project, dict) or not tail_project:
            raise PipelineError("trailing $project must be a non-empty document")
        proj = dict(tail_project)
        idv = proj.pop("_id", 1)
        if idv in (0, False):
            raise PipelineError(
                "routing cannot exclude _id (the group keys are "
                "the join keys of the decomposed answer)")
        if idv not in (1, True):
            raise PipelineError("routing supports _id passthrough only")
        consumed: set[str] = set()
        out_cols: list[str] = []
        for k, v in proj.items():
            if isinstance(v, dict) and list(v) == ["$size"]:
                ref = v["$size"]
                if not (isinstance(ref, str) and ref.startswith("$")
                        and ref[1:] in sets):
                    raise PipelineError(
                        f"$size must reference an $addToSet field (got {ref!r})")
                sname = ref[1:]
                if sname in consumed:
                    raise PipelineError(
                        f"set field {ref!r} consumed by two $size projections")
                consumed.add(sname)
                if _routable_name(k) in dim_names:
                    raise PipelineError(
                        f"output {k!r} collides with a dimension")
                if k in order and k not in sets:
                    # Mongo inclusion-$project REPLACE semantics: a
                    # computed {$size} output named like a $group
                    # accumulator replaces it — the shadowed
                    # accumulator is dropped from the answer (ADVICE
                    # r11: keeping it made two parts emit the same
                    # column name and the group-key join failed with
                    # AMBIGUOUS_REFERENCE). A shadowed $addToSet name
                    # (k in sets, k != sname) keeps its entry so the
                    # no-$size-consumer refusal below stays loud —
                    # the compile fallback preserves Mongo's
                    # read-from-input-doc projection semantics there.
                    plain = [m for m in plain if m[0] != k]
                    specials = [(m, p) for (m, p) in specials if m[0] != k]
                specials.append(((k, "count_distinct", sets[sname]), None))
                out_cols.append(k)
            elif v in (1, True) and not isinstance(v, dict):
                if k not in order or k in sets:
                    raise PipelineError(
                        f"routing: projection of {k!r} must pass "
                        "through a non-set accumulator")
                out_cols.append(k)
            else:
                raise PipelineError(
                    f"routing: unsupported projection {k!r}: {v!r} "
                    "(only {$size: '$<set>'} and 1/true passthrough)")
        missing = set(sets) - consumed
        if missing:
            raise PipelineError(
                f"$addToSet fields {sorted(missing)} have no $size "
                "projection — raw distinct sets are not routable")
        # accumulators the inclusion projection drops are not computed
        keep = set(out_cols)
        plain = [m for m in plain if m[0] in keep]
        specials = [(m, p) for (m, p) in specials if m[0] in keep]
    else:
        out_cols = list(order)
    if len(set(out_cols)) != len(out_cols):
        raise PipelineError("duplicate output accumulator names")
    parts: list = []
    if plain:
        parts.append(("plain", tuple(plain)))
    for measure, post in specials:
        parts.append(("special", measure, post))
    if not parts:
        raise PipelineError("no accumulator to route")
    if group.get("_id") is None:
        hint = "(name the group keys, or _id: {} for one global group)"
        if len(accs) > 1:
            raise PipelineError(
                "_id: null routes only a lone special-family accumulator, "
                f"not two or more accumulators {hint}")
        if parts[0][0] != "special":
            raise PipelineError(
                "_id: null routes only a lone special-family accumulator; "
                f"this $group has no special-family accumulator {hint}")
    if present is not None:
        parts.append(present)
    return filter_sql, dims, parts, out_cols


# ---------------------------------------------------------------------------
# $setWindowFields — the window stage (S19). partitionBy/sortBy map to
# a WindowSpec; each output field is a window operator. Documents
# windows: ["unbounded", N] / [N, "current"] row frames map to
# rowsBetween; omitted window means the Mongo defaults (whole
# partition for aggregates, cumulative for rank-like).
# ---------------------------------------------------------------------------

def _window_spec(spec: dict, need_order: bool, df: DataFrame | None = None,
                 rank_ties: bool = False):
    """The stage's WindowSpec. Under a CI collation (r10, requires
    ``df`` for type checks): a string-typed partitionBy key partitions
    by its lower() image (one window partition per CI class) and
    string-typed sortBy keys order by (lower(k), k) — the same
    deterministic binary tie-break CI $sort uses. ``rank_ties`` drops
    the binary tie-break for string keys ($rank/$denseRank: CI-equal
    keys must TIE, not rank apart by case)."""
    from pyspark.sql import Window as W

    part = spec.get("partitionBy")
    sort = spec.get("sortBy") or {}
    if need_order and not sort:
        raise PipelineError("this window operator requires sortBy")
    keys = []
    if part is not None:
        if not (isinstance(part, str) and part.startswith("$")):
            raise PipelineError("$setWindowFields partitionBy must be a field path")
        p = part[1:]
        if _ci() and df is not None and _is_string_path(df, p):
            keys.append(_fold_col(F.col(p)))
        else:
            keys.append(p)
    w = W.partitionBy(*keys) if keys else W.partitionBy()
    if sort:
        order_cols = []
        for k, v in sort.items():
            asc = v >= 0
            if _ci() and df is not None and _is_string_path(df, k):
                img = _fold_col(F.col(k))
                order_cols.append(img if asc else F.desc(img))
                if rank_ties:
                    continue
            order_cols.append(F.col(k) if asc else F.desc(k))
        w = w.orderBy(*order_cols)
    return w


def _range_frame(window: dict, spec: dict, df: DataFrame):
    """A {range: [lo, hi], unit?} window as a Spark rangeBetween frame
    over the numeric sortBy image: unit seconds scale time offsets;
    numeric sortBy takes raw offsets. Returns the ordered WindowSpec,
    or None if the window has no range frame."""
    from pyspark.sql import Window as W

    rng = window.get("range") if window else None
    if rng is None:
        return None
    if "unit" in window and window["unit"] not in _TIME_UNIT_S:
        raise PipelineError(
            f"$setWindowFields range window: unsupported unit "
            f"{window['unit']!r}; supported: {sorted(_TIME_UNIT_S)}"
        )
    unit_s = _TIME_UNIT_S[window["unit"]] if "unit" in window else 1.0

    # rangeBetween takes LONG offsets, so the frame runs over a
    # millisecond-scaled long image of the sort key — integral for
    # every Mongo unit down to millisecond, and fractional-second
    # timestamps stay inside the frame arithmetic
    def bound(x, unbounded):
        if x == "unbounded":
            return unbounded
        if x == "current":
            return 0
        if isinstance(x, (int, float)):
            return int(round(float(x) * unit_s * 1000))
        raise PipelineError(f"bad range bound {x!r}")

    lo, hi = rng
    part = spec.get("partitionBy")
    if part is not None and not (isinstance(part, str) and part.startswith("$")):
        # mirror _window_spec: a malformed partitionBy must refuse, not
        # silently widen the frame to the whole dataset
        raise PipelineError("$setWindowFields partitionBy must be a field path")
    keys: list = [part[1:]] if isinstance(part, str) and part.startswith("$") else []
    if keys and _ci() and _is_string_path(df, keys[0]):
        # CI collation: one window partition per lower()-image class
        # (mirrors _window_spec, r10)
        keys = [_fold_col(F.col(keys[0]))]
    w = W.partitionBy(*keys) if keys else W.partitionBy()
    t_ms = (_swf_sort_key(spec, df) * 1000).cast("long")
    return w.orderBy(t_ms).rangeBetween(
        bound(lo, W.unboundedPreceding), bound(hi, W.unboundedFollowing)
    )


def _frame_bounds(window: dict):
    from pyspark.sql import Window as W

    docs = window.get("documents")
    if docs is None:
        return None

    def bound(x, unbounded):
        if x == "unbounded":
            return unbounded
        if x == "current":
            return 0
        if isinstance(x, int):
            return x
        raise PipelineError(f"bad window bound {x!r}")

    lo, hi = docs
    return bound(lo, W.unboundedPreceding), bound(hi, W.unboundedFollowing)


_WINDOW_AGGS = {"$sum", "$avg", "$min", "$max", "$count", "$push", "$first",
                "$last", "$addToSet", "$median", "$percentile"}
_WINDOW_RANKS = {"$rank": F.rank, "$denseRank": F.dense_rank,
                 "$documentNumber": F.row_number}


#: Mongo time units → seconds (for $derivative/$integral unit scaling)
_TIME_UNIT_S = {
    "week": 604800.0, "day": 86400.0, "hour": 3600.0,
    "minute": 60.0, "second": 1.0, "millisecond": 0.001,
}


def _swf_sort_key(spec: dict, df: DataFrame, *, keep_integral: bool = False) -> Column:
    """The single sortBy field of $derivative/$integral/$linearFill as
    a numeric Column: timestamps become epoch seconds, DATE columns go
    through unix_date (CAST(date AS double) is not a legal Spark cast
    — the same gating operators/ranking.py applies), numerics cast
    directly. All images are monotone in the native order."""
    from pyspark.sql import types as T

    sort = spec.get("sortBy") or {}
    if len(sort) != 1:
        raise PipelineError("this window operator requires a single sortBy field")
    [(key, direction)] = sort.items()
    if direction < 0:
        raise PipelineError("this window operator requires an ascending sortBy")
    if key in df.columns and isinstance(df.schema[key].dataType, T.DateType):
        return F.unix_date(F.col(key)).cast("double")
    if keep_integral and key in df.columns and isinstance(
        df.schema[key].dataType, (T.ByteType, T.ShortType,
                                  T.IntegerType, T.LongType)
    ):
        # value-arithmetic ops ($derivative/$integral/$linearFill/$fill
        # linear) subtract nearby keys: keep integral keys integral so
        # the DIFFERENCES stay exact — a 2^53+ key (e.g. epoch-micros
        # composites) cast to double loses ulps that the small
        # difference would have represented exactly (round-6, found by
        # the sf0.1 oracle gate). _range_frame keeps the double image:
        # it MULTIPLIES the key, where integral passthrough could
        # overflow long instead.
        return F.col(key).cast("long")
    return F.col(key).cast("double")


def _set_window_fields(df: DataFrame, spec: dict) -> DataFrame:
    from pyspark.sql import Window as W

    if spec.get("partitionBy") is None:
        # once per STAGE (not once per output field / frame build)
        _check_unpartitioned_window()
    out_fields = spec.get("output", {})
    named: list[tuple[str, Column]] = []
    temps: list[str] = []
    for name, raw_spec in out_fields.items():
        field_spec = dict(raw_spec)
        window = field_spec.pop("window", None)
        [(op, arg)] = field_spec.items()
        if _ci() and op in ("$min", "$max", "$minN", "$maxN", "$addToSet"):
            # same policy as the $group accumulators (_CI_CMP_ACCS):
            # these COMPARE (or CI-dedupe) their argument values, which
            # would run binary over strings — refuse string-typed args
            inner = arg["input"] if (
                isinstance(arg, dict) and "input" in arg) else arg
            if _is_string_expr(df, compile_expr(inner)):
                raise PipelineError(
                    f"collation: window operator {op} over a string "
                    "argument would compare binary under the requested "
                    "case-insensitive collation; apply $toLower "
                    "explicitly or drop the collation")
        if op in _WINDOW_RANKS:
            # $rank/$denseRank under CI: CI-equal sort keys must TIE
            # (rank_ties drops the binary tie-break); $documentNumber
            # keeps the deterministic refinement like CI $sort
            w = _window_spec(spec, need_order=True, df=df,
                             rank_ties=op in ("$rank", "$denseRank"))
            expr = _WINDOW_RANKS[op]().over(w)
        elif op == "$derivative":
            # average rate of change across the frame: (last-first) of
            # the input over (last-first) of the sortBy, per `unit`
            if window is None:
                raise PipelineError("$derivative requires a window")
            w = _window_spec(spec, need_order=True, df=df)
            wf = _range_frame(window, spec, df)
            if wf is None:
                bounds = _frame_bounds(window)
                wf = w.rowsBetween(*bounds) if bounds else w.rowsBetween(
                    W.unboundedPreceding, 0
                )
            v, t = compile_expr(arg["input"]), _swf_sort_key(spec, df, keep_integral=True)
            scale = _TIME_UNIT_S[arg["unit"]] if "unit" in arg else 1.0
            dv = F.last(v).over(wf) - F.first(v).over(wf)
            dt = F.last(t).over(wf) - F.first(t).over(wf)
            expr = F.try_divide(dv, dt) * F.lit(scale)
        elif op == "$integral":
            # trapezoidal rule: each inter-row segment's area rides on
            # the segment's LATER row, so a [lo, hi] documents frame
            # sums terms over [lo+1, hi] (the first frame row's segment
            # lies outside the frame); cumulative frames need no shift.
            w = _window_spec(spec, need_order=True, df=df)
            v, t = compile_expr(arg["input"]), _swf_sort_key(spec, df, keep_integral=True)
            scale = _TIME_UNIT_S[arg["unit"]] if "unit" in arg else 1.0
            if window and "range" in window:
                raise PipelineError(
                    "$integral supports documents frames only (trapezoid "
                    "terms attach to rows, not sort-value ranges)"
                )
            term = (
                (v + F.lag(v).over(w))
                * (t - F.lag(t).over(w)).cast("double")
                / 2 / F.lit(scale)
            )
            tmp = "__swf_" + name.replace(".", "_") + "_term"  # dots would
            # parse as a nested reference in the later F.sum(tmp)
            df = df.select("*", term.alias(tmp))
            temps.append(tmp)
            bounds = _frame_bounds(window) if window else None
            if bounds is None:
                wf = w.rowsBetween(W.unboundedPreceding, 0)
            else:
                lo, hi = bounds
                wf = w.rowsBetween(lo + 1 if lo != W.unboundedPreceding else lo, hi)
            expr = F.sum(tmp).over(wf)
        elif op in ("$covariancePop", "$covarianceSamp"):
            rw = _range_frame(window, spec, df) if window else None
            w = rw if rw is not None else _window_spec(spec, need_order=False, df=df)
            bounds = None if rw is not None else (
                _frame_bounds(window) if window else None
            )
            if bounds is not None:
                w = w.rowsBetween(*bounds)
            elif rw is None and spec.get("sortBy"):
                w = w.rowsBetween(W.unboundedPreceding, 0)
            a, b = (compile_expr(x) for x in arg)
            fn = F.covar_pop if op == "$covariancePop" else F.covar_samp
            expr = fn(a, b).over(w)
        elif op in ("$stdDevPop", "$stdDevSamp"):
            rw = _range_frame(window, spec, df) if window else None
            w = rw if rw is not None else _window_spec(spec, need_order=False, df=df)
            bounds = None if rw is not None else (
                _frame_bounds(window) if window else None
            )
            if bounds is not None:
                w = w.rowsBetween(*bounds)
            elif rw is None and spec.get("sortBy"):
                w = w.rowsBetween(W.unboundedPreceding, 0)
            fn = F.stddev_pop if op == "$stdDevPop" else F.stddev_samp
            expr = fn(compile_expr(arg)).over(w)
        elif op == "$locf":
            w = _window_spec(spec, need_order=True, df=df).rowsBetween(
                W.unboundedPreceding, 0
            )
            expr = F.last(compile_expr(arg), ignorenulls=True).over(w)
        elif op == "$linearFill":
            # interpolate on sortBy VALUE distance between the nearest
            # non-null anchors (Mongo semantics — not row distance)
            w = _window_spec(spec, need_order=True, df=df)
            back = w.rowsBetween(W.unboundedPreceding, 0)
            fwd = w.rowsBetween(0, W.unboundedFollowing)
            c, t = compile_expr(arg), _swf_sort_key(spec, df, keep_integral=True)
            pv = F.last(c, ignorenulls=True).over(back)
            pt = F.last(F.when(c.isNotNull(), t), ignorenulls=True).over(back)
            nv = F.first(c, ignorenulls=True).over(fwd)
            nt = F.first(F.when(c.isNotNull(), t), ignorenulls=True).over(fwd)
            expr = F.when(c.isNotNull(), c).when(
                pv.isNotNull() & nv.isNotNull(),
                pv + (nv - pv) * (t - pt).cast("double")
                / (nt - pt).cast("double"),
            )
        elif op == "$expMovingAvg":
            # inherently sequential recursion — runs as the engine's
            # partition-sorted Arrow EMA stage (queries/windows.py),
            # which transforms the frame rather than adding a window
            # expression; the stage needs a real partition key and an
            # ascending sort
            from mongo_olap_spark.queries.windows import exp_moving_avg

            if ("alpha" in arg) == ("N" in arg):
                raise PipelineError(
                    "$expMovingAvg requires exactly one of alpha / N"
                )
            alpha = arg["alpha"] if "alpha" in arg else 2.0 / (arg["N"] + 1)
            part = spec.get("partitionBy")
            if not (isinstance(part, str) and part.startswith("$")):
                raise PipelineError(
                    "$expMovingAvg requires a field-path partitionBy"
                )
            sort = spec.get("sortBy") or {}
            if not sort or any(v < 0 for v in sort.values()):
                raise PipelineError(
                    "$expMovingAvg requires an ascending sortBy"
                )
            inp = arg["input"]
            if not (isinstance(inp, str) and inp.startswith("$")):
                raise PipelineError("$expMovingAvg input must be a field path")
            df = exp_moving_avg(df, part[1:], list(sort), inp[1:], alpha=alpha)
            if "." in name:  # dotted output writes the struct subfield
                df = _set_nested(df, name, F.col("ema")).drop("ema")
            else:
                df = df.withColumnRenamed("ema", name)
            continue
        elif op in ("$minN", "$maxN"):
            n = arg.get("n")
            if not (isinstance(n, int) and n > 0):
                raise PipelineError(f"{op} requires a positive literal n")
            rw = _range_frame(window, spec, df) if window else None
            w = rw if rw is not None else _window_spec(spec, need_order=False, df=df)
            bounds = None if rw is not None else (
                _frame_bounds(window) if window else None
            )
            if bounds is not None:
                w = w.rowsBetween(*bounds)
            elif rw is None and spec.get("sortBy"):
                w = w.rowsBetween(W.unboundedPreceding, 0)
            lst = F.collect_list(compile_expr(arg["input"])).over(w)
            expr = F.slice(F.sort_array(lst, asc=op == "$minN"), 1, n)
        elif op == "$shift":
            w = _window_spec(spec, need_order=True, df=df)
            by = arg.get("by", 1)
            default = arg.get("default")
            if isinstance(default, dict):
                # Mongo requires a CONSTANT default; lead/lag take a
                # plain literal — unwrap the $literal spelling, refuse
                # computed expressions by name (fuzz-found: a dict fell
                # through to the JVM as a HashMap literal)
                if set(default) == {"$literal"}:
                    default = default["$literal"]
                else:
                    raise PipelineError(
                        "$shift default must be a constant "
                        f"(literal or {{$literal: v}}), got {default!r}")
            elif isinstance(default, str) and default.startswith("$"):
                raise PipelineError(
                    "$shift default must be a constant, not a field path")
            fn = F.lag if by < 0 else F.lead
            expr = fn(compile_expr(arg["output"]), abs(by),
                      default if default is not None else None).over(w)
        elif op in _WINDOW_AGGS:
            # aggregates: whole partition unless a documents frame or
            # sortBy (Mongo: sortBy alone => cumulative frame)
            from pyspark.sql import Window as W

            rw = _range_frame(window, spec, df) if window else None
            w = rw if rw is not None else _window_spec(spec, need_order=False, df=df)
            bounds = None if rw is not None else (
                _frame_bounds(window) if window else None
            )
            if bounds is not None:
                w = w.rowsBetween(*bounds)
            elif rw is None and spec.get("sortBy"):
                w = w.rowsBetween(W.unboundedPreceding, 0)
            # .over() must attach to the aggregate itself, so the
            # decimal-exact sum/avg forms are built inline (dsum/davg
            # wrap the aggregate in a cast, which can't take .over)
            from mongo_olap_spark.functions.expressions import SUM_DECIMAL

            if op == "$count":
                expr = F.count(F.lit(1)).over(w)
            elif op in ("$first", "$last"):
                # sortBy alone must NOT default these to the cumulative
                # frame ($last over [unbounded, current] is the identity
                # function) — Mongo's default window for first/last is
                # the whole partition, ordered by sortBy
                if bounds is None and rw is None:
                    w = _window_spec(spec, need_order=True, df=df).rowsBetween(
                        W.unboundedPreceding, W.unboundedFollowing
                    )
                fn = F.first if op == "$first" else F.last
                expr = fn(compile_expr(arg)).over(w)
            elif op == "$sum":
                # Mongo window $sum is 0 — not null — over an empty or
                # all-null frame (fuzz-found, round 5; same rule as the
                # $group accumulator)
                c = compile_expr(arg)
                expr = F.coalesce(
                    F.sum(c.cast(SUM_DECIMAL)).over(w).cast("double"),
                    F.lit(0.0),
                )
            elif op == "$avg":
                c = compile_expr(arg)
                expr = (
                    F.sum(c.cast(SUM_DECIMAL)).over(w).cast("double")
                    / F.count(c).over(w)
                )
            elif op == "$min":
                expr = F.min(compile_expr(arg)).over(w)
            elif op == "$max":
                expr = F.max(compile_expr(arg)).over(w)
            elif op in ("$median", "$percentile"):
                # Mongo 7.0 window forms. Spark's median()/percentile()
                # aggregates refuse ordered/framed windows, so these
                # compile to collect_list over the frame + the same
                # interpolation arithmetic as the expression forms —
                # O(frame) per row, valid for every frame type incl.
                # range windows; `method` accepted and ignored.
                arg_in = arg["input"] if isinstance(arg, dict) else arg
                vals = F.array_sort(
                    F.collect_list(compile_expr(arg_in)).over(w)
                )
                if op == "$median":
                    expr = _array_percentile(vals, 0.5)
                else:
                    ps = _validate_percentiles(
                        arg.get("p") if isinstance(arg, dict) else None
                    )
                    expr = F.array(
                        *[_array_percentile(vals, p) for p in ps]
                    )
            elif op == "$addToSet":
                expr = F.collect_set(compile_expr(arg)).over(w)
            else:  # $push
                expr = F.collect_list(compile_expr(arg)).over(w)
        else:
            raise PipelineError(f"unsupported window operator {op!r}")
        named.append((name, expr))
    # dotted output names write struct subfields (Mongo semantics); a
    # plain alias would create a LITERAL "a.b" top-level column
    plain = [(n, e) for n, e in named if "." not in n]
    out = df.select("*", *[e.alias(n) for n, e in plain])
    for n, e in named:
        if "." in n:
            out = _set_nested(out, n, e)
    return out.drop(*temps) if temps else out


# ---------------------------------------------------------------------------
# $densify / $fill — gap-fill stages (S20), compiled onto the same
# native shapes as the hand-written operators (sequence + explode for
# row generation; last(ignorenulls)/anchor interpolation over windows
# for imputation).
# ---------------------------------------------------------------------------

_DENSIFY_UNITS = {"week": 604800, "day": 86400, "hour": 3600, "minute": 60, "second": 1}

#: calendar units step with interval arithmetic (a "1 month" hop is
#: not a fixed number of seconds)
_DENSIFY_CALENDAR = {"month": "month", "quarter": "quarter", "year": "year"}


def _path_type(schema, path: str):
    """Resolve a dotted path through nested StructTypes; None if any
    segment is absent or a non-struct intermediate."""
    from pyspark.sql.types import StructType

    dt = schema
    for seg in path.split("."):
        if not isinstance(dt, StructType) or seg not in dt.fieldNames():
            return None
        dt = dt[seg].dataType
    return dt


def _null_struct_with(dtype, leaves: dict) -> Column:
    """Build a struct of ``dtype`` with the given relative dotted
    ``leaves`` set and every other field null — the padding shape for
    spine rows whose partition key lives inside a struct."""
    by_head: dict = {}
    for path, v in leaves.items():
        h, _, rest = path.partition(".")
        by_head.setdefault(h, {})[rest] = v
    fields = []
    for f in dtype.fields:
        if f.name in by_head:
            sub = by_head[f.name]
            if "" in sub:
                fields.append(sub[""].cast(f.dataType).alias(f.name))
            else:
                fields.append(
                    _null_struct_with(f.dataType, sub).alias(f.name)
                )
        else:
            fields.append(F.lit(None).cast(f.dataType).alias(f.name))
    return F.struct(*fields)


def _densify(df: DataFrame, spec: dict) -> DataFrame:
    field_src = spec["field"]
    rng = spec["range"]
    step, unit = rng["step"], rng.get("unit")
    bounds = rng.get("bounds", "full")
    part_paths = [
        p[1:] if p.startswith("$") else p for p in spec.get("partitionByFields", [])
    ]
    # dotted paths (round-6), for the densify field AND partition keys:
    # read the struct subfield under a flat alias for the spine/bounds
    # plumbing, rebuild the enclosing struct (siblings null) when
    # padding generated rows
    for p in [*part_paths, field_src]:
        if "." in p and _path_type(df.schema, p) is None:
            raise PipelineError(
                f"$densify: path {p!r} does not resolve through "
                "struct fields"
            )
    part_fields = [
        p if "." not in p else f"__pf{i}" for i, p in enumerate(part_paths)
    ]
    part_cols = [
        F.col(p).alias(a) for p, a in zip(part_paths, part_fields)
    ]
    field = field_src if "." not in field_src else "__dfv"
    is_time = unit is not None
    if is_time and unit not in _DENSIFY_UNITS and unit not in _DENSIFY_CALENDAR:
        raise PipelineError(f"unsupported $densify unit {unit!r}")
    lo = F.min(F.col(field_src)).alias("__d0")
    hi = F.max(F.col(field_src)).alias("__d1")
    explicit = isinstance(bounds, list)
    if explicit:
        # Mongo explicit range: HALF-OPEN [lower, upper) — spine rows
        # are generated over the given range regardless of the data,
        # and documents OUTSIDE the range survive untouched (hence the
        # full join below, vs left for full/partition bounds)
        if len(bounds) != 2:
            raise PipelineError("$densify bounds list must be [lower, upper]")
        lo_l = F.lit(bounds[0]).cast("timestamp") if is_time else F.lit(bounds[0])
        hi_l = F.lit(bounds[1]).cast("timestamp") if is_time else F.lit(bounds[1])
        keys_df = (
            df.select(*part_cols).distinct()
            if part_fields
            else df.sparkSession.range(1).select()
        )
        bounds_df = keys_df.select(
            *part_fields, lo_l.alias("__d0"), hi_l.alias("__d1")
        )
    elif bounds == "partition":
        # each partition densifies over its own [min, max]
        if not part_fields:
            raise PipelineError('bounds:"partition" needs partitionByFields')
        bounds_df = df.groupBy(*part_cols).agg(lo, hi)
    elif bounds == "full":
        # every partition spans the global range: aggregate bounds
        # once, cross-join onto the (broadcast-sized) partition keys
        glob = df.agg(lo, hi)
        bounds_df = (
            df.select(*part_cols).distinct().crossJoin(F.broadcast(glob))
            if part_fields else glob
        )
    else:
        raise PipelineError(f"unsupported $densify bounds {bounds!r}")
    if not is_time:
        step_expr = str(step)
    elif unit in _DENSIFY_CALENDAR:
        # quarter steps as 3-month intervals; month/year hops follow
        # Spark's (and Mongo's) end-of-month clamping semantics
        n = step * 3 if unit == "quarter" else step
        step_expr = f"interval {n} {'month' if unit == 'quarter' else unit}s"
    else:
        step_expr = f"interval {step * _DENSIFY_UNITS[unit]} seconds"
    spine = bounds_df.select(
        *part_fields,
        F.explode(F.expr(f"sequence(__d0, __d1, {step_expr})")).alias(field),
    )
    if explicit:
        spine = spine.filter(F.col(field) < hi_l)  # half-open upper
    # Append-missing, don't join (fuzz find #6 + scale): every original
    # document must survive — including values OFF the step grid and
    # null-field docs (Mongo passes those through untouched). A
    # spine⟗data join would shuffle the ENTIRE dataset through a
    # full-outer SMJ just to discover which grid points exist; instead
    # the data stays put and only (spine ANTI-JOIN distinct-keys) —
    # both bounded by the grid size — shuffle. Partition keys compare
    # null-safely: null is a real partition value.
    names = list(spine.columns)  # part_fields (aliases) + [field alias]
    sources = part_paths + [field_src]  # dotted originals, for df-side reads
    sp = spine.select(
        *[F.col(c).alias(f"__sp_{i}") for i, c in enumerate(names)]
    )
    # spine derives from df: rename before joining or the analyzer
    # flags an ambiguous self-join
    present = (
        df.select(
            *[F.col(c).alias(f"__pr_{i}") for i, c in enumerate(sources)]
        )
        .where(F.col(f"__pr_{len(names) - 1}").isNotNull())
        .distinct()
    )
    cond = sp[f"__sp_{len(names) - 1}"] == present[f"__pr_{len(names) - 1}"]
    for i in range(len(part_fields)):
        cond = cond & sp[f"__sp_{i}"].eqNullSafe(present[f"__pr_{i}"])
    missing = sp.join(present, cond, "left_anti")
    dotted_by_head: dict = {}
    for i, p in enumerate(sources):  # part paths + the densify field
        if "." in p:
            h, _, rest = p.partition(".")
            dotted_by_head.setdefault(h, {})[rest] = F.col(f"__sp_{i}")
    pad = []
    for fld in df.schema.fields:
        if fld.name in names:
            pad.append(
                F.col(f"__sp_{names.index(fld.name)}").alias(fld.name)
            )
        elif fld.name in dotted_by_head:
            # partition key lives inside this struct: rebuild it with
            # the spine value(s) set and every other subfield null
            pad.append(
                _null_struct_with(
                    fld.dataType, dotted_by_head[fld.name]
                ).alias(fld.name)
            )
        else:
            pad.append(F.lit(None).cast(fld.dataType).alias(fld.name))
    return df.unionByName(missing.select(*pad))


def _fill(df: DataFrame, spec: dict) -> DataFrame:
    from pyspark.sql import Window as W

    sort = spec.get("sortBy") or {}
    if not sort:
        raise PipelineError("$fill requires sortBy")
    part = spec.get("partitionBy")
    keys = []
    if part is not None:
        if not (isinstance(part, str) and part.startswith("$")):
            raise PipelineError("$fill partitionBy must be a field path")
        keys.append(part[1:])
    order = [F.col(k) if v >= 0 else F.desc(k) for k, v in sort.items()]
    w = (W.partitionBy(*keys) if keys else W.partitionBy()).orderBy(*order)
    back = w.rowsBetween(W.unboundedPreceding, 0)
    fwd = w.rowsBetween(0, W.unboundedFollowing)
    out_df = df
    for name, how in spec.get("output", {}).items():
        c = F.col(name)
        if "value" in how:
            filled = F.coalesce(c, compile_expr(how["value"]))
        elif how.get("method") == "locf":
            filled = F.last(c, ignorenulls=True).over(back)
        elif how.get("method") == "linear":
            # Mongo interpolates on the sortBy VALUES (a gap twice as
            # wide in sort-key terms pulls the fill twice as far), not
            # on row positions — same contract as $linearFill, and it
            # needs the single numeric/date sort key
            t = _swf_sort_key(spec, df, keep_integral=True)
            pv = F.last(c, ignorenulls=True).over(back)
            pt = F.last(F.when(c.isNotNull(), t), ignorenulls=True).over(back)
            nv = F.first(c, ignorenulls=True).over(fwd)
            nt = F.first(F.when(c.isNotNull(), t), ignorenulls=True).over(fwd)
            filled = F.when(c.isNotNull(), c).when(
                pv.isNotNull() & nv.isNotNull(),
                pv + (nv - pv) * (t - pt).cast("double")
                / (nt - pt).cast("double"),
            )
        else:
            raise PipelineError(f"unsupported $fill method for {name!r}: {how}")
        # dotted output writes the struct subfield (round-6; a plain
        # withColumn would create a LITERAL "a.b" top-level column)
        out_df = _set_nested(out_df, name, filled)
    return out_df


# ---------------------------------------------------------------------------
# $out / $merge — terminal write stages ([MONGO-DOC] semantics; the
# reference persists pipeline results into named collections)
# ---------------------------------------------------------------------------

def merge_documents(
    existing: DataFrame,
    incoming: DataFrame,
    on: str | list[str],
    *,
    when_matched: str | list = "merge",
    when_not_matched: str = "insert",
    let: dict | None = None,
) -> DataFrame:
    """Mongo $merge as a pure DataFrame transform (no write).

    whenMatched: ``replace`` (incoming row wins) | ``keepExisting`` |
    ``merge`` (incoming's columns overwrite; existing-only columns
    survive) | ``fail`` | a CUSTOM UPDATE PIPELINE (list of $set/
    $addFields/$unset stages): expressions evaluate against the
    EXISTING document with ``$$new`` bound to the incoming one — the
    counter-merge idiom ``{$set: {n: {$add: ["$n", "$$new.n"]}}}``
    compiles to plain join-projection arithmetic. ``let`` (r6)
    replaces the default ``{new: $$ROOT}`` binding: each variable
    evaluates against the INCOMING document and rides into the
    pipeline as ``$$var`` ($$new then unbound, Mongo's contract).
    whenNotMatched: ``insert`` | ``discard`` | ``fail``. ``fail`` modes validate
    eagerly with a bounded probe — Mongo aborts the write mid-stream;
    we refuse before writing at all.

    Plan shape: ONE full-outer join on the merge keys; every branch is
    a column-level projection over it — no second pass, no Python.
    Broadcast is left to AQE: the incoming side of a $merge is usually
    a small delta, exactly the side AQE turns into a broadcast join.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if let is not None and not isinstance(when_matched, list):
        raise PipelineError(
            "$merge: let is only valid with a whenMatched update pipeline"
        )
    for k in keys:
        if k not in existing.columns or k not in incoming.columns:
            raise PipelineError(f"$merge: on-field {k!r} missing from a side")
    # presence markers, not key-nullability: merge keys may legally be
    # NULL (eqNullSafe matches them), so null keys can't signal absence
    for reserved in ("_e_present", "_i_present"):
        if reserved in existing.columns or reserved in incoming.columns:
            raise PipelineError(
                f"$merge: column name {reserved!r} is reserved by the merge"
            )
    e = existing.withColumn("_e_present", F.lit(True)).alias("e")
    i = incoming.withColumn("_i_present", F.lit(True)).alias("i")
    cond = None
    for k in keys:
        c = F.col(f"e.{k}").eqNullSafe(F.col(f"i.{k}"))
        cond = c if cond is None else (cond & c)
    joined = e.join(i, cond, "full_outer")
    matched = F.col("e._e_present").isNotNull() & F.col("i._i_present").isNotNull()
    i_only = F.col("e._e_present").isNull()

    if when_matched == "fail":
        if joined.filter(matched).limit(1).count() > 0:
            raise PipelineError("$merge whenMatched=fail: matching documents exist")
    if when_not_matched == "fail":
        if joined.filter(i_only).limit(1).count() > 0:
            raise PipelineError(
                "$merge whenNotMatched=fail: incoming documents have no match"
            )

    e_cols, i_cols = set(existing.columns), set(incoming.columns)
    updates: dict[str, Column] = {}
    removed: set[str] = set()
    if isinstance(when_matched, list):
        # custom update pipeline: "$field" reads the existing doc
        # (updated by earlier stages, so $set chains compose), "$$new"
        # the incoming doc
        def _resolve(path: str) -> Column:
            head, *rest = path.split(".")
            if head in updates:
                col = updates[head]
            elif head in removed:
                # a $unset in an earlier stage makes the field missing
                # for subsequent stages (Mongo reads it as null) even
                # when the existing doc still carries the column
                col = F.lit(None)
            elif head in e_cols:
                col = F.col(f"e.{head}")
            else:
                col = F.lit(None)  # missing field reads as null
            for part in rest:
                col = col.getItem(part)
            return col

        new_struct = F.struct(
            *[F.col(f"i.{c}").alias(c) for c in incoming.columns]
        )
        if let is None:
            bindings = {"new": new_struct}  # Mongo's default let
        else:
            # custom let: each variable evaluates against the INCOMING
            # document ($$ROOT = the incoming doc); Mongo's contract
            # is that $$new is NOT available unless explicitly defined
            def _resolve_incoming(path: str) -> Column:
                head, *rest = path.split(".")
                col = F.col(f"i.{head}") if head in i_cols else F.lit(None)
                for part in rest:
                    col = col.getItem(part)
                return col

            with _bind_fields(_resolve_incoming), _bind(ROOT=new_struct):
                bindings = {k: compile_expr(v) for k, v in let.items()}
        with _bind(**bindings), _bind_fields(_resolve):
            for stage in when_matched:
                [(sname, sspec)] = stage.items()
                if sname in ("$set", "$addFields"):
                    # all of a stage's expressions see the PRE-stage
                    # document (Mongo: fields in one $set are not
                    # visible to each other); compile first, then apply
                    staged = {
                        fld: compile_expr(expr) for fld, expr in sspec.items()
                    }
                    updates.update(staged)
                    removed.difference_update(staged)
                elif sname == "$unset":
                    flds = sspec if isinstance(sspec, list) else [sspec]
                    for fld in flds:
                        removed.add(fld)
                        updates.pop(fld, None)
                else:
                    raise PipelineError(
                        f"$merge whenMatched pipeline: unsupported stage {sname!r}"
                    )

    out_cols: list = []
    all_names = (
        list(existing.columns)
        + [c for c in incoming.columns if c not in e_cols]
        + [c for c in updates if c not in e_cols and c not in i_cols]
    )
    for name in all_names:
        ec = F.col(f"e.{name}") if name in e_cols else F.lit(None)
        ic = F.col(f"i.{name}") if name in i_cols else F.lit(None)
        if name in keys:
            col = F.when(i_only, ic).otherwise(ec)
        elif isinstance(when_matched, list):
            matched_val = F.lit(None) if name in removed else updates.get(name, ec)
            col = F.when(matched, matched_val).when(i_only, ic).otherwise(ec)
        elif when_matched == "replace":
            col = F.when(matched | i_only, ic).otherwise(ec)
        elif when_matched == "keepExisting" or name not in i_cols:
            col = F.when(i_only, ic).otherwise(ec)
        else:  # merge: incoming column overwrites on match
            col = F.when(matched | i_only, ic).otherwise(ec)
        out_cols.append(col.alias(name))
    if when_not_matched == "discard":
        # drop incoming-only rows: keep rows that existed before
        return joined.filter(~i_only).select(*out_cols)
    return joined.select(*out_cols)


def execute_pipeline(
    source: DataFrame,
    pipeline: list[dict],
    store,
    *,
    collections: dict[str, DataFrame] | None = None,
) -> int:
    """Run a pipeline whose LAST stage is $out or $merge; commit the
    result into ``store`` (ParquetCollectionStore) atomically; return
    the committed version. All other stages compile as usual."""
    if not pipeline or next(iter(pipeline[-1])) not in ("$out", "$merge"):
        raise PipelineError("execute_pipeline requires a trailing $out/$merge stage")
    [(name, spec)] = pipeline[-1].items()
    df = compile_pipeline(source, pipeline[:-1], collections=collections)
    if name == "$out":
        target = spec if isinstance(spec, str) else spec["coll"]
        return store.write(target, df)
    target = spec["into"] if isinstance(spec, dict) else spec
    if isinstance(target, dict):
        target = target["coll"]
    let = spec.get("let") if isinstance(spec, dict) else None
    if let is not None and not (
        isinstance(let, dict) and let
        and all(isinstance(k, str) for k in let)
    ):
        raise PipelineError("$merge: let must be a non-empty document")
    wm = spec.get("whenMatched", "merge") if isinstance(spec, dict) else "merge"
    if let is not None and not isinstance(wm, list):
        # validate the SPEC eagerly, like Mongo — even when the target
        # does not exist yet and no merge would run
        raise PipelineError(
            "$merge: let is only valid with a whenMatched update pipeline"
        )
    on = spec.get("on", "_id") if isinstance(spec, dict) else "_id"
    when_matched = spec.get("whenMatched", "merge") if isinstance(spec, dict) else "merge"
    when_not_matched = (
        spec.get("whenNotMatched", "insert") if isinstance(spec, dict) else "insert"
    )
    if not store.exists(target):
        if when_not_matched == "discard":
            df = df.limit(0)
        elif when_not_matched == "fail":
            raise PipelineError(
                "$merge whenNotMatched=fail: target collection does not exist"
            )
        return store.write(target, df)
    merged = merge_documents(
        store.read(target),
        df,
        on,
        when_matched=when_matched,
        when_not_matched=when_not_matched,
        let=let,
    )
    return store.write(target, merged)
