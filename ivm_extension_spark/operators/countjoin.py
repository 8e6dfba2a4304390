"""The counting-join rule: one maintained INNER / LEFT / FULL / SEMI /
ANTI join algebra behind every non-equi join family.

A family supplies only a :class:`Matcher`: its PAIR GENERATOR —
``pairs(a, b, broadcast)`` returns the inner join of a left-side
relation ``a`` with a right-side relation ``b`` (all ``a`` columns +
non-key ``b`` columns), exactly the pairs that satisfy the join
condition, with ``broadcast`` ('left', 'right' or None) naming the side
to broadcast — plus the ``left_on`` / ``right_on`` columns that fix a
row's match set.  The families: :func:`equi` here (conjunctive equi
pairs projected to ``__k…`` key columns — the equi steps of rewrite.py's
join fold), thetajoin.py (broadcast theta,
arbitrary condition), ineqjoin.py (dyadic bins, one-sided ``l.x <
r.y``) and rangejoin.py (banded bins, point-in-interval).  Everything
below is shared.

Match-count algebra.  A preserved left row's match set depends only on
its ``kp = (key_cols…, left_on…)`` values, so the match count m(kp) =
|{r ∈ R : pair(ℓ, r)}| is a per-key quantity.  Over signed multisets
(insert +1, delete −1):

- INNER: Δ(L ⋈ R) = ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR with sign products.
- LEFT adds the NULL-padded rows of keys with m = 0:
  term 1, ΔL rows padded with their own sign when m'(kp) ≤ 0 over
  R' = R ∪ ΔR; term 2, existing L rows whose key CROSSES zero under ΔR
  (0→+ retracts the pad row, +→0 inserts it — :func:`_crossings`).
- FULL adds the mirror-image terms for right rows keyed on
  ``(key_cols…, right_on…)``, counted against L' = L ∪ ΔL and ΔL.
- SEMI keeps rows with m > 0, ANTI rows with m = 0: term 1 gates ΔL
  rows on m', term 2 applies the crossings (negated for ANTI).

Fusion: ONE tagged probe A = ΔL × (R ∪ ΔR) yields both ΔL matched
branches and, summed per ΔL key, the post-delta counts for left term 1
(summing over duplicate delta rows scales m' by a positive factor, so
the m' > 0 test is unchanged); for FULL, C = (L ∪ ΔL) × ΔR likewise
yields L⋈ΔR and the right term-1 counts.  Each fused relation is pinned
once (it feeds two consumers).  Independent branch groups build
concurrently (pin.build_all); union order is fixed.

Crossing candidates: when a match set is plain equality on the key
columns alone (no ``left_on`` / ``right_on``, not ``null_safe`` — the
equi generator), only keys the delta carries can cross, so Δm is the
delta summed by key and the preserved base is never scanned for
candidates; otherwise they are the preserved side's distinct match
columns.

Bookkeeping joins (count probes, NULL-pad anti joins, flip sets) are
NULL-SAFE and broadcast the delta-derived side: a general condition
(e.g. one wrapped in ``coalesce``) may match rows with NULL referenced
columns, so NULL keys are grouped, not dropped.  Scale shape: the base
relations are only ever probed by broadcast delta-derived sets (ΔL
rows, distinct affected keys, flip sets); the only shuffles are count
aggregations over delta-matched slices — O(|Δ| + affected keys).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, functions as F

from ivm_extension_spark.operators import colops
from ivm_extension_spark.operators.colops import q
from ivm_extension_spark.operators.pin import build_all

Pairs = Callable[[DataFrame, DataFrame, "str | None"], DataFrame]


class Matcher(NamedTuple):
    """A family's binding onto the shared rule: its pair generator and
    the columns that fix each side's match set.  ``null_safe=False``
    declares that a NULL in any match column never matches (bare-column
    binned axes), so count bookkeeping may use plain equality — which
    lets Spark prune NULL keys before the probe joins.  With no
    ``left_on`` / ``right_on`` as well, it declares that ``pairs`` is
    plain equality on ``key_cols``."""

    pairs: Pairs
    key_cols: tuple[str, ...]
    left_on: list[str]
    right_on: list[str]
    null_safe: bool = True

    @property
    def kp_l(self) -> list[str]:
        return [*self.key_cols, *self.left_on]

    @property
    def kp_r(self) -> list[str]:
        return [*self.key_cols, *self.right_on]


_SIGN = "__ivm_sign"
_TAG_L, _TAG_R = "__cj_dl", "__cj_dr"


def _null_pad(
    side: DataFrame,
    matched_keys: DataFrame,
    probe_cols: list[str],
    other: DataFrame,
    key_cols: tuple[str, ...],
    broadcast: bool = True,
) -> DataFrame:
    """Rows of ``side`` whose ``probe_cols`` never appear in
    ``matched_keys``, padded with NULLs for ``other``'s non-key columns
    — the preserved-side construction.  One SQL text: distinct probe
    keys + anti join + typed null pads.  ``broadcast=False`` leaves the
    build side to the planner (a CREATE-time matched relation may be
    large)."""
    ksub = ", ".join(f"{q(c)} AS {q('__mk_' + c)}" for c in probe_cols)
    on = " AND ".join(
        f"__s.{q(c)} <=> __k.{q('__mk_' + c)}" for c in probe_cols
    )
    pads = colops.null_lit_exprs(
        other, [c for c in other.columns if c not in key_cols]
    )
    hint = "/*+ BROADCAST(__k) */ " if broadcast else ""
    return colops.sql_over(
        f"SELECT {hint}__s.*, {', '.join(pads)} "
        f"FROM {{s}} AS __s LEFT ANTI JOIN "
        f"(SELECT DISTINCT {ksub} FROM {{k}}) AS __k ON {on}",
        s=side,
        k=matched_keys,
    )


def _crossings(
    dm: DataFrame, old: DataFrame, kp: list[str], null_safe: bool
) -> DataFrame:
    """Keys whose match count crosses zero: ``dm`` holds each key's
    non-zero Δm (``__dm``), ``old`` one row per OLD match of those keys
    (counted here into m_old).  ``__flip`` = +1 entering the matched set
    (m_old = 0, m_old + Δm > 0), −1 leaving (m_old > 0, m_old + Δm ≤ 0).
    One SQL text: rename + join + flip case + crossing filter."""
    m_old = old.groupBy(*kp).agg(F.count(F.lit(1)).alias("__mold"))
    ksub = ", ".join(
        [f"{q(c)} AS {q('__mk_' + c)}" for c in kp] + ["`__mold`"]
    )
    eq = "<=>" if null_safe else "="
    on = " AND ".join(f"__s.{q(c)} {eq} __k.{q('__mk_' + c)}" for c in kp)
    proj = ", ".join(f"__s.{q(c)}" for c in kp)
    return colops.sql_over(
        f"SELECT * FROM (SELECT /*+ BROADCAST(__k) */ {proj}, "
        f"{colops.flip_case(1)} "
        f"FROM {{s}} AS __s LEFT JOIN (SELECT {ksub} FROM {{k}}) AS __k ON {on}) "
        "WHERE `__flip` IS NOT NULL",
        s=dm,
        k=m_old,
    )


def _deltas(d_left, d_right) -> tuple[DataFrame | None, DataFrame | None]:
    """Both deltas with the bool multiplicity turned into signed
    weights ``__wl`` / ``__wr`` (None stays None)."""
    from ivm_extension_spark.operators.rewrite import MULT_COL

    if d_left is None and d_right is None:
        raise ValueError("at least one side needs a delta")
    return tuple(
        colops.signed(d, MULT_COL, w) if d is not None else None
        for d, w in ((d_left, "__wl"), (d_right, "__wr"))
    )


def _finish(branches: list[DataFrame], cols: list[str]) -> DataFrame:
    """Union the signed branches and turn the sign back into the bool
    multiplicity."""
    from ivm_extension_spark.operators.rewrite import MULT_COL

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.selectExpr(*[q(c) for c in cols], f"{_SIGN} > 0 AS {q(MULT_COL)}")


def _out_cols(
    left: DataFrame, right: DataFrame, key_cols: tuple[str, ...]
) -> list[str]:
    return [*left.columns, *[c for c in right.columns if c not in key_cols]]


def _proj(df: DataFrame, cols) -> DataFrame:
    return df.selectExpr(*[q(c) for c in cols])


def _positive_keys(rel: DataFrame, kp: list[str], w: str) -> DataFrame:
    """Keys of ``rel`` whose summed weight ``w`` is positive — the
    post-delta matched-key set m' > 0."""
    return _proj(
        rel.groupBy(*kp).agg(F.sum(w).alias("__m")).filter(F.col("__m") > 0), kp
    )


def _flips(
    m: Matcher,
    preserved: DataFrame | None,
    delta: DataFrame,
    base: DataFrame,
    w: str,
    preserved_left: bool,
) -> DataFrame:
    """Preserved-side keys whose match count against the other side
    crosses zero under that side's signed ``delta`` (weight ``w``);
    ``base`` is the other side's OLD relation projected to its match
    columns.  A match set that is plain equality on the key columns
    alone (the :func:`equi` generator) can only change for keys the
    delta carries: Δm is the delta summed by key and ``preserved`` is
    never read.  Otherwise Δm comes from ``preserved``'s DISTINCT match
    columns probed by the broadcast delta (several rows sharing a key
    would multiply Δm and fake a crossing).  m_old comes from the base
    probed by the broadcast affected keys."""
    kp = m.kp_l if preserved_left else m.kp_r

    def probe(mine: DataFrame, theirs: DataFrame, bc_mine: bool) -> DataFrame:
        if preserved_left:
            return m.pairs(mine, theirs, "left" if bc_mine else "right")
        return m.pairs(theirs, mine, "right" if bc_mine else "left")

    if m.left_on or m.right_on or m.null_safe:
        delta = probe(_proj(preserved, kp).distinct(), delta, False)
    dm = delta.groupBy(*kp).agg(F.sum(w).alias("__dm")).filter(F.col("__dm") != 0)
    return _crossings(dm, probe(_proj(dm, kp), base, True), kp, m.null_safe)


# ---------------------------------------------------------------- equi


def _equi_join(
    a: DataFrame, b: DataFrame, key_cols: tuple[str, ...], broadcast: str | None
) -> DataFrame:
    hint = {
        "left": "/*+ BROADCAST(__a) */ ",
        "right": "/*+ BROADCAST(__b) */ ",
        None: "",
    }[broadcast]
    proj = ", ".join(
        ["__a.*"] + [f"__b.{q(c)}" for c in b.columns if c not in key_cols]
    )
    on = " AND ".join(f"__a.{q(k)} = __b.{q(k)}" for k in key_cols)
    return colops.sql_over(
        f"SELECT {hint}{proj} FROM {{a}} AS __a JOIN {{b}} AS __b ON {on}",
        a=a,
        b=b,
    )


def equi(n_keys: int) -> Matcher:
    """The EQUI pair generator: both sides carry the join's equi-pair
    expressions as ``__k0 … __k{n-1}``, and a pair is plain equality on
    all of them (one hinted hash join) — a NULL key never matches, so
    the bookkeeping is plain equality too."""
    key_cols = tuple(f"__k{i}" for i in range(n_keys))
    return Matcher(
        lambda a, b, bc: _equi_join(a, b, key_cols, bc), key_cols, [], [], False
    )


# ---------------------------------------------------------------- plain


def outer_join(left: DataFrame, right: DataFrame, m: Matcher, full: bool) -> DataFrame:
    """LEFT OUTER join, or FULL OUTER when ``full``: matched pairs plus
    the preserved sides' matchless rows NULL-padded.  The matched
    relation is pinned once and feeds the output union and every anti
    probe's matched-key set (a lazy checkpoint races with the
    concurrent broadcast-build subjobs, each consumer recomputing the
    whole join)."""
    oc = _out_cols(left, right, m.key_cols)
    matched = m.pairs(left, right, None).localCheckpoint(eager=True)
    sides = [(left, right, m.kp_l)] + ([(right, left, m.kp_r)] if full else [])
    out = matched
    for side, other, kp in sides:
        pad = _null_pad(side, _proj(matched, kp), kp, other, m.key_cols)
        out = out.unionByName(_proj(pad, oc))
    return out


def semi_anti_join(
    left: DataFrame, right: DataFrame, m: Matcher, anti: bool
) -> DataFrame:
    """LEFT SEMI / ANTI join: match status depends only on the left
    match columns, so the probe runs over the DISTINCT left keys and
    the matched-key set is broadcast back — the full left relation is
    never compared row by row."""
    kp = m.kp_l
    mk = _proj(m.pairs(_proj(left, kp).distinct(), _proj(right, m.kp_r), None), kp)
    return colops.keyed_join(
        left, mk.distinct(), kp, "left_anti" if anti else "left_semi", m.null_safe
    )


# ---------------------------------------------------------------- delta


def inner_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    m: Matcher,
) -> DataFrame:
    """Δ(L ⋈ R) = ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR with sign products, the delta
    side broadcast in every branch.  Output: joined columns + the
    multiplicity bool."""
    dl, dr = _deltas(d_left, d_right)
    oc = _out_cols(left, right, m.key_cols)
    ocq = [q(c) for c in oc]
    thunks: list = []
    if dl is not None:
        thunks.append(
            lambda: m.pairs(dl, right, "left").selectExpr(*ocq, f"`__wl` AS {_SIGN}")
        )
    if dr is not None:
        thunks.append(
            lambda: m.pairs(left, dr, "right").selectExpr(*ocq, f"`__wr` AS {_SIGN}")
        )
    if dl is not None and dr is not None:
        thunks.append(
            lambda: m.pairs(dl, dr, "left").selectExpr(
                *ocq, f"`__wl` * `__wr` AS {_SIGN}"
            )
        )
    return _finish(build_all(*thunks), oc)


def outer_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    m: Matcher,
    full: bool,
) -> DataFrame:
    """Δ(L ⟕ R), or Δ(L ⟗ R) when ``full``: the matched three-branch
    rule plus the NULL-pad terms of the module doc — fused A (and, for
    FULL, C) relations each pinned inside their own branch group, so
    the checkpoint jobs overlap the sibling constructions."""
    dl, dr = _deltas(d_left, d_right)
    key_cols, kp_l, kp_r = m.key_cols, m.kp_l, m.kp_r
    oc = _out_cols(left, right, key_cols)
    ocq = [q(c) for c in oc]

    # ---- fused A = ΔL × (R ∪ ΔR): matched ΔL⋈R (sign __wl) and ΔL⋈ΔR
    # (sign __wl·__wr) branches + left term 1 (ΔL keys with m' ≤ 0)
    def _a_group() -> list[DataFrame]:
        rprime = right.selectExpr("*", "1 AS `__wr`", f"false AS {q(_TAG_R)}")
        if dr is not None:
            rprime = rprime.unionByName(dr.selectExpr("*", f"true AS {q(_TAG_R)}"))
        A = m.pairs(dl, rprime, "left").localCheckpoint(eager=True)
        matched = A.selectExpr(
            *ocq,
            f"`__wl` * (CASE WHEN {q(_TAG_R)} THEN `__wr` ELSE 1 END) AS {_SIGN}",
        )
        t1 = _null_pad(dl, _positive_keys(A, kp_l, "__wr"), kp_l, right, key_cols)
        return [matched, t1.selectExpr(*ocq, f"`__wl` AS {_SIGN}")]

    # ---- LEFT: matched branch L ⋈ ΔR (old-L rows; ΔL⋈ΔR came from A)
    def _matched_dr() -> list[DataFrame]:
        return [m.pairs(left, dr, "right").selectExpr(*ocq, f"`__wr` AS {_SIGN}")]

    # ---- FULL: fused C = (L ∪ ΔL) × ΔR: the L⋈ΔR matched branch (old-L
    # rows only) + right term 1 (ΔR keys with no match in L')
    def _c_group() -> list[DataFrame]:
        lprime = left.selectExpr("*", "1 AS `__wl`", f"false AS {q(_TAG_L)}")
        if dl is not None:
            lprime = lprime.unionByName(dl.selectExpr("*", f"true AS {q(_TAG_L)}"))
        C = m.pairs(lprime, dr, "right").localCheckpoint(eager=True)
        b2 = C.filter(f"NOT {q(_TAG_L)}") if dl is not None else C
        t1r = _null_pad(dr, _positive_keys(C, kp_r, "__wl"), kp_r, left, key_cols)
        return [
            b2.selectExpr(*ocq, f"`__wr` AS {_SIGN}"),
            t1r.selectExpr(*ocq, f"`__wr` AS {_SIGN}"),
        ]

    # ---- left term 2: existing L keys whose count crosses zero under
    # ΔR — a key ENTERING the matched set retracts its pad row
    def _left_anti2() -> list[DataFrame]:
        flips = _flips(m, left, dr, _proj(right, kp_r), "__wr", True)
        t2 = colops.keyed_join(left, flips, kp_l, "inner", m.null_safe)
        return [t2.selectExpr(
            *[q(c) for c in left.columns],
            *colops.null_lit_exprs(
                right, [c for c in right.columns if c not in key_cols]
            ),
            f"-`__flip` AS {_SIGN}",
        )]

    # ---- right term 2: existing R keys whose left-match count crosses
    # zero under ΔL (against OLD right — deleted right rows' spurious
    # terms cancel against the matched/term-1 branches)
    def _right_anti2() -> list[DataFrame]:
        flips = _flips(m, right, dl, _proj(left, kp_l), "__wl", False)
        t2r = colops.keyed_join(right, flips, kp_r, "inner", m.null_safe)
        null_l = [
            q(c) if c in key_cols
            else f"CAST(NULL AS {left.schema[c].dataType.simpleString()}) AS {q(c)}"
            for c in left.columns
        ]
        return [t2r.selectExpr(
            *null_l,
            *[q(c) for c in right.columns if c not in key_cols],
            f"-`__flip` AS {_SIGN}",
        )]

    # independent groups, built concurrently; flattened order matches
    # the serial construction
    thunks: list = []
    if dl is not None:
        thunks.append(_a_group)
    if dr is not None:
        thunks.append(_c_group if full else _matched_dr)
        thunks.append(_left_anti2)
    if full and dl is not None:
        thunks.append(_right_anti2)
    return _finish([b for g in build_all(*thunks) for b in g], oc)


def semi_anti_delta(
    left: DataFrame,
    right: DataFrame,
    d_left: DataFrame | None,
    d_right: DataFrame | None,
    m: Matcher,
    anti: bool,
) -> DataFrame:
    """Δ(L ⋉ R) / Δ(L ▷ R): ΔL rows gated on the post-delta match count
    m' (SEMI keeps m' > 0, ANTI m' ≤ 0), plus existing L keys whose
    count crosses zero under ΔR (ANTI applies the crossing negated).
    Output: left columns + the multiplicity bool."""
    dl, dr = _deltas(d_left, d_right)
    kp = m.kp_l
    lcq = [q(c) for c in left.columns]
    rproj = _proj(right, m.kp_r)

    def _term1() -> DataFrame:
        rprime = rproj.selectExpr("*", "1 AS `__wr`")
        if dr is not None:
            rprime = rprime.unionByName(
                dr.selectExpr(*[q(c) for c in m.kp_r], "`__wr`")
            )
        m_pos = _positive_keys(
            m.pairs(_proj(dl, kp).distinct(), rprime, "left"), kp, "__wr"
        )
        t1 = colops.keyed_join(
            dl, m_pos, kp, "left_anti" if anti else "left_semi", m.null_safe
        )
        return t1.selectExpr(*lcq, f"`__wl` AS {_SIGN}")

    def _term2() -> DataFrame:
        flips = _flips(m, left, dr, rproj, "__wr", True)
        t2 = colops.keyed_join(left, flips, kp, "inner", m.null_safe)
        fsign = "-`__flip`" if anti else "`__flip`"
        return t2.selectExpr(*lcq, f"{fsign} AS {_SIGN}")

    thunks: list = []
    if dl is not None:
        thunks.append(_term1)
    if dr is not None:
        thunks.append(_term2)
    return _finish(build_all(*thunks), left.columns)
