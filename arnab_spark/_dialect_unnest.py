"""UNNEST machinery split out of :mod:`arnab_spark.dialect` (round
12, maintainability split): single-unnest lateral-view lowering,
multi-unnest level-wise zip (posexplode + arrays_zip with alias
routing), unnest under set-operation arms, ``recursive``/``max_depth``
flags, and the live-session schema/expression-type probes the deep
shapes need, memoized in the session's
:class:`~arnab_spark._dialect_base.DialectState`.
"""

from __future__ import annotations

import re

from arnab_spark import lexer
from arnab_spark._dialect_base import _is_set_op_at, state_for

_UNNEST_CALL = re.compile(r"(?is)\bunnest\s*\(")


def _rewrite_single_unnest(sql: str, spark=None) -> str:
    """``unnest(x)`` → ``explode(x)`` — but ONLY when the statement
    contains exactly one unnest call in code. Multiple unnests
    in one select ZIP positionally in DuckDB while multiple explodes
    CARTESIAN-product in Spark 4 (verified both) — a silent-wrongness
    trap, so multi-unnest select lists go through
    :func:`_rewrite_multi_unnest` (explode-of-arrays_zip) and anything
    that rewrite can't prove whole-item is left for Spark to reject as
    an unresolved routine."""
    masked = lexer.mask(sql)
    sites = list(_UNNEST_CALL.finditer(masked))
    if len(sites) != 1:
        return sql
    # Round 8: a USER-written window in the SAME select scope as the
    # unnest evaluates PRE-unnest in DuckDB (probed: rn repeats
    # 1,1,2,2) while the blind explode would compute it post-explode
    # (1,2,3,4) — a silent divergence, so such statements stay whole
    # for Spark to reject. Scope = innermost enclosing paren interval:
    # a window in an OUTER query over a CTE that unnests (the corpus's
    # own TF-IDF model) is a different scope and untouched by the
    # explode, so it must NOT abort. The zip rewrite handles the
    # aliased same-scope shapes; the one exempt OVER is this shim's
    # own DISTINCT ON marker (`… AS __arnab_rn`), whose post-explode
    # evaluation IS the DISTINCT ON semantics (probed end-to-end).
    m = sites[0]
    overs = list(re.finditer(r"(?is)\bover\s*\(", masked))
    if overs:
        intervals = lexer.paren_groups(sql)

        def innermost(p: int) -> tuple[int, int] | None:
            best = None
            for s, e in intervals:
                if s < p <= e and (best is None or e - s < best[1] - best[0]):
                    best = (s, e)
            return best

        scope = innermost(m.start())
        for om in overs:
            if innermost(om.start()) != scope:
                continue
            close = _call_args(sql, om.end() - 1)
            if close is None:
                return sql
            _args, after = close
            if not re.match(r"(?is)\s*AS\s+__arnab_rn\b", sql[after:]):
                return sql
    return sql[: m.start()] + "explode(" + sql[m.end():]


_UNNEST_TAIL_BLOCKERS = ("group", "having", "qualify", "window",
                         "union", "intersect", "except")
_UNNEST_ALIAS = re.compile(
    r'(?is)^\s*(?:AS\s+)?(?:([A-Za-z_]\w*)|"([^"]+)")\s*$'
)


_IDENT = r'(?:[A-Za-z_]\w*|"[^"]+"|`[^`]+`)'


def _single_relation_alias(tail: str) -> str | None:
    """When ``tail`` is ``FROM <single plain relation> [WHERE …]``,
    return the relation's effective alias — the explicit one, else the
    terminal name of a dotted table reference. None (caller aborts,
    loud) for joins, comma lists, subquery FROMs, and alias-less table
    functions, where qualified-star coverage can't be proven."""
    m = re.match(r"(?is)^\s*FROM\b(.*)$", tail.strip())
    if m is None:
        return None
    rel = m.group(1)
    w_idx, _ = lexer.find_top_level(rel, ("where",))
    if w_idx >= 0:
        rel = rel[:w_idx]
    rel = rel.strip()
    if not rel or not lexer.balanced(rel):
        return None
    # joins / comma lists / subqueries disqualify
    if re.search(r"(?is)\b(?:join|lateral)\b|,|\(\s*select\b", lexer.mask(rel)):
        return None
    am = re.match(
        rf"(?is)^(?P<ref>{_IDENT}(?:\s*\.\s*{_IDENT})*(?:\s*\([^()]*\))?)"
        rf"(?:\s+(?:AS\s+)?(?!WHERE\b)(?P<alias>{_IDENT}))?\s*$",
        rel,
    )
    if am is None:
        return None
    if am.group("alias"):
        return am.group("alias").strip('"`')
    if am.group("ref").rstrip().endswith(")"):
        return None  # table function without an explicit alias
    terminal = re.split(r"\s*\.\s*", am.group("ref"))[-1]
    return terminal.strip('"`')


def _rewrite_multi_unnest(sql: str, spark=None) -> str:
    """N≥2 ``unnest(...)`` select-list items ZIP positionally in DuckDB
    (shorter lists NULL-padded to the longest; a NULL list behaves like
    an empty one and pads; all-empty yields zero rows — all probed).
    Spark's positional zip is ``explode(arrays_zip(...))``, so the
    select list

        SELECT c, unnest(a) AS x, unnest(b) AS y FROM t [ORDER …/LIMIT …]

    becomes a three-layer rewrite with deterministic zip-field names
    (arrays_zip names struct fields after plain column references, so
    each unnest argument is first aliased ``__u<i>``):

        SELECT c, __unn['__u0'] AS x, __unn['__u1'] AS y FROM (
          SELECT *, explode(arrays_zip(__u0, __u1)) AS __unn FROM (
            SELECT *, coalesce((a), array()) AS __u0,
                      coalesce((b), array()) AS __u1 FROM t))
        [ORDER …/LIMIT …]

    ``coalesce(…, array())`` reproduces DuckDB's NULL-list padding
    (arrays_zip of a NULL array is NULL → zero rows, which would drop
    rows DuckDB keeps). Applied when every unnest call is either an
    entire select-list item or EMBEDDED in a select-item expression
    (round 8 — ``unnest(a) + 1``, ``length(unnest(s))``,
    ``unnest(a) + unnest(b)``: DuckDB zips every unnest in the list
    positionally and evaluates the surrounding expression per element,
    probed, incl. NULL-pad through the expression), of a plain
    ``SELECT [DISTINCT] … FROM …`` (no GROUP BY/HAVING/QUALIFY/WINDOW
    clause, no unnest outside the select list; DISTINCT dedupes the
    projected rows POST-unnest in DuckDB — probed — which is exactly
    the outer ``SELECT DISTINCT`` over the zip subquery). Set-op arms
    are split and rewritten independently by
    :func:`_rewrite_unnest_set_ops` before this pass sees them.
    Embedded substitution aborts — leaving the statement whole for
    Spark to reject loudly — on nested ``unnest(unnest(…))`` and
    aggregate-wrapped unnest (both BinderErrors in DuckDB itself:
    rejecting them IS parity) and on sub-selects inside the item
    (substitution would hoist the call out of scope). A single
    whole-item unnest keeps the cheaper explode path in
    :func:`_rewrite_single_unnest`; a single embedded one takes the
    zip rewrite here. Anything else unprovable is left whole — a
    wrong silent zip is worse than a clear error.

    Star select items: the inner subqueries add ``__u<i>``/``__unn``
    helper columns, so a verbatim ``*`` in the outer list would leak
    them (the round-6 silent-schema-divergence bug). A bare ``*`` (or
    ``* EXCEPT (…)``, which is what the EXCLUDE pass emits before this
    one runs) is therefore rewritten to ``* EXCEPT (<helpers>)`` —
    Spark's star-exclusion expands against the wrapped relation, so
    the output is exactly DuckDB's ``[t-columns…, zip aliases…]``.

    Qualified stars (``t.*`` / ``t.* EXCEPT (…)``, round 8): when the
    FROM clause is a SINGLE plain relation whose alias is determinable
    (explicit alias, or the terminal name of a dotted table ref), the
    wrapped subquery is re-aliased with that name —
    ``FROM (…) AS t`` — and the item becomes
    ``t.* EXCEPT (<helpers>[, user cols])`` (Spark supports qualified
    star-EXCEPT, probed). Single-relation-ness makes the coverage
    proof trivial: t's columns ARE the wrapped columns minus helpers.
    The re-alias also lets other outer references (``t.c`` in the
    select list or the split-off ORDER BY) keep resolving. Joins,
    subquery FROMs, alias-less table functions, and ``* REPLACE``
    stay aborted — coverage is unprovable there, so the statement is
    left whole for Spark to reject loudly."""
    sites = list(_UNNEST_CALL.finditer(lexer.mask(sql)))
    if not sites:
        return sql
    if re.match(r"(?is)^\s*WITH\b", sql):
        # CTE prefix: the main SELECT is the first top-level one (CTE
        # bodies sit inside parens); CTEs stay visible inside the
        # rewrite's subqueries, so rewrite the main body and re-prefix.
        sel_idx, _ = lexer.find_top_level(sql, ("select",))
        if sel_idx <= 0:
            return sql
        body = _rewrite_multi_unnest(sql[sel_idx:])
        return sql if body == sql[sel_idx:] else sql[:sel_idx] + body
    if re.match(r"(?is)^\s*SELECT\s+DISTINCT\s+ON\b", sql):
        return sql  # DISTINCT ON: different construct, stays loud
    head = re.match(r"(?is)^\s*SELECT\s+(DISTINCT\s+)?", sql)
    if not head:
        return sql
    # DISTINCT dedupes the PROJECTED rows post-unnest in DuckDB
    # (probed: DISTINCT unnest([1,1,2]), unnest([5,5,9]) → (1,5),(2,9);
    # pad rows and expression items dedupe the same way) — exactly
    # what SELECT DISTINCT over the zip subquery computes.
    distinct_kw = "DISTINCT " if head.group(1) else ""
    list_start = head.end()
    from_idx, _ = lexer.find_top_level(sql, ("from",), list_start)
    if from_idx < 0:
        select_list, tail = sql[list_start:], ""
    else:
        select_list, tail = sql[list_start:from_idx], sql[from_idx:]
    # ORDER/LIMIT/OFFSET split off to the outer query (they follow the
    # select list directly in FROM-less statements); blockers abort
    suffix = ""
    seg_for_split = tail if tail else select_list
    b_idx, b_word = lexer.find_top_level(
        seg_for_split, _UNNEST_TAIL_BLOCKERS + ("order", "limit", "offset"),
        1 if tail else 0,
    )
    if b_idx >= 0:
        if b_word in _UNNEST_TAIL_BLOCKERS:
            return sql
        suffix = seg_for_split[b_idx:]
        if tail:
            tail = tail[:b_idx]
        else:
            select_list = select_list[:b_idx]
    # every unnest site must sit inside the select list
    list_end = (
        from_idx if from_idx >= 0 else list_start + len(select_list)
    )
    if any(m.start() < list_start or m.start() >= list_end for m in sites):
        return sql
    # Window functions evaluate BEFORE unnest in DuckDB (probed:
    # rank() OVER (ORDER BY z) beside two zipping unnests repeats its
    # value across every zip row INCLUDING pad rows). Round 8: aliased
    # window items are therefore HOISTED into the inner subquery
    # (computed pre-explode, re-projected by alias) instead of
    # aborting. A window referencing an unnest item's alias is a
    # BinderError in DuckDB itself ("UNNEST not supported here") —
    # aborting those IS parity. The one post-explode window kept in
    # the outer list is this shim's own DISTINCT ON marker
    # (`__arnab_rn` — its PARTITION BY references the unnest output by
    # design, resolved via Spark's lateral column aliases; probed
    # end-to-end equal to DuckDB's DISTINCT ON-over-unnest). Unaliased
    # window items abort: the hoist needs a name to re-project.
    # (Bare aggregates still pre-collapse in DuckDB, but the rewrite
    # turns those into a loud Spark grouping error, never a silent
    # wrong zip.)
    items = lexer.split_top_level(select_list)

    def _item_has_over(item: str) -> bool:
        return re.search(r"(?is)\bover\s*\(", lexer.mask(item)) is not None

    # aliases of every unnest-bearing item, for the reference check
    unnest_item_aliases: list[str] = []
    for it in items:
        if _UNNEST_CALL.search(it):
            am = re.match(r"(?is)^.*\bAS\s+([A-Za-z_]\w*)\s*$", it.strip())
            if am:
                unnest_item_aliases.append(am.group(1))
    window_defs: list[str] = []
    unnest_args: list[str] = []
    out_items: list[str] = []
    embedded_any = False
    star_slots: list[tuple[int, str | None]] = []  # (out_items idx, EXCEPT cols)
    qstar_slots: list[tuple[int, str, str | None]] = []  # (idx, qualifier, EXCEPT cols)

    def _substitute_embedded(item: str) -> str | None:
        """Expression-embedded unnest (round 8): replace every
        ``unnest(<arg>)`` call in the item with its ``__unn['__u<i>']``
        zip-field reference, registering the argument as a helper —
        DuckDB evaluates the surrounding expression per unnested
        element (probed: ``unnest([1,2,3]) + 10`` → 11,12,13;
        ``unnest(a) + unnest(b)`` zips THEN adds; a plain column
        beside it repeats laterally), which is exactly what the
        substituted expression computes over the exploded zip rows.
        Returns the rewritten item, or None when parity can't be
        proven, aborting the whole statement (loud): nested
        ``unnest(unnest(…))`` (two-level flatten, out of scope),
        ``:=`` options, a sub-select inside the item (substitution
        would hoist the call out of its scope), or an aggregate
        wrapping the call."""
        masked = lexer.mask(item)
        if re.search(r"(?is)\(\s*select\b", masked):
            return None
        if _item_has_over(item):
            return None  # window OF an unnest-bearing expression
        in_sites = list(_UNNEST_CALL.finditer(masked))
        parsed_sites: list[tuple[int, int, str]] = []
        for m in in_sites:
            parsed = _call_args(item, m.end() - 1)
            if parsed is None:
                return None
            args, end = parsed
            if len(args) != 1 or ":=" in args[0]:
                return None
            parsed_sites.append((m.start(), end, args[0]))
        for s0, e0, _a in parsed_sites:
            for s1, e1, _b in parsed_sites:
                if s0 < s1 and e1 <= e0:
                    return None  # nested unnest
        # aggregate wrapping an unnest: DuckDB REJECTS it ("aggregate
        # function calls cannot contain UNNEST", probed) — substituting
        # would make Spark compute a value DuckDB's dialect refuses, so
        # the statement stays whole and Spark rejects the raw unnest
        if parsed_sites and re.search(
            r"(?is)\b(?:sum|min|max|avg|count|stddev\w*|var\w*|corr|"
            r"covar\w*|median|mode|string_agg|array_agg|list|first|last|"
            r"arg_(?:min|max)|bit_\w+|bool_(?:and|or)|product|"
            r"approx_\w+|percentile\w*|quantile\w*)\s*\(",
            item,
        ):
            outer = re.finditer(
                r"(?is)\b(?:sum|min|max|avg|count|stddev\w*|var\w*|"
                r"corr|covar\w*|median|mode|string_agg|array_agg|"
                r"list|first|last|arg_(?:min|max)|bit_\w+|"
                r"bool_(?:and|or)|product|approx_\w+|percentile\w*|"
                r"quantile\w*)\s*\(",
                masked,
            )
            for am in outer:
                ap = _call_args(item, am.end() - 1)
                if ap is None:
                    return None
                _aargs, aend = ap
                if any(
                    am.end() - 1 < s0 and e0 <= aend
                    for s0, e0, _a in parsed_sites
                ):
                    return None
        new_item = item
        indexed = []
        for s0, e0, arg in parsed_sites:  # left-to-right index assignment
            indexed.append((s0, e0, len(unnest_args)))
            unnest_args.append(arg)
        for s0, e0, idx in sorted(indexed, reverse=True):
            new_item = new_item[:s0] + f"__unn['__u{idx}']" + new_item[e0:]
        return new_item

    for item in items:
        um = re.match(r"(?is)^\s*unnest\s*\(", item)
        if um is None:
            if _UNNEST_CALL.search(item):
                sub = _substitute_embedded(item)
                if sub is None:
                    return sql  # unprovable embedding: stay loud
                embedded_any = True
                out_items.append(sub.strip())
                continue
            if _item_has_over(item):
                stripped = item.strip()
                wm = re.match(
                    r"(?is)^(.*\S)\s+AS\s+([A-Za-z_]\w*)\s*$", stripped
                )
                if wm is None:
                    return sql  # unaliased window item: nothing to
                    # re-project by — stay loud
                wexpr, walias = wm.group(1), wm.group(2)
                if walias == "__arnab_rn":
                    # this shim's DISTINCT ON marker: post-explode by
                    # design (its PARTITION BY names the unnest output)
                    out_items.append(stripped)
                    continue
                if any(
                    re.search(rf"(?i)\b{re.escape(a)}\b", wexpr)
                    for a in unnest_item_aliases
                ):
                    return sql  # window over an unnest alias: DuckDB
                    # BinderError — rejecting IS parity
                wi = len(window_defs)
                window_defs.append(f"({wexpr}) AS __w{wi}")
                out_items.append(f"__w{wi} AS `{walias}`")
                continue
            stripped = item.strip()
            if stripped.startswith("*") or stripped.endswith("*"):
                # star item: must not leak the __u<i>/__unn helpers
                if stripped == "*":
                    star_slots.append((len(out_items), None))
                    out_items.append(stripped)
                    continue
                em = re.match(r"(?is)^\*\s*EXCEPT\s*\((.+)\)$", stripped)
                if em is not None:
                    star_slots.append((len(out_items), em.group(1).strip()))
                    out_items.append(stripped)
                    continue
                qm = re.match(
                    r'(?is)^([A-Za-z_]\w*|"[^"]+"|`[^`]+`)\s*\.\s*\*\s*$',
                    stripped,
                )
                if qm is not None:
                    qstar_slots.append((len(out_items), qm.group(1), None))
                    out_items.append(stripped)
                    continue
                # * REPLACE / anything else star-shaped: coverage
                # unprovable once the FROM alias is wrapped — stay loud
                return sql
            qem = re.match(
                r'(?is)^([A-Za-z_]\w*|"[^"]+"|`[^`]+`)\s*\.\s*\*\s*'
                r"EXCEPT\s*\((.+)\)$",
                stripped,
            )
            if qem is not None:
                qstar_slots.append(
                    (len(out_items), qem.group(1), qem.group(2).strip())
                )
                out_items.append(stripped)
                continue
            if re.search(r"(?s)\.\s*\*(?!\w)", lexer.mask(stripped)):
                # qualified star buried in a modifier we don't model
                # (t.* REPLACE …) — never pass through: with the outer
                # re-alias it would silently leak helpers (quoted '.*'
                # regex literals are fine and skipped)
                return sql
            out_items.append(stripped)
            continue
        parsed = _call_args(item, um.end() - 1)
        if parsed is None:
            return sql
        args, end = parsed
        rest = item[end:]
        if len(args) != 1 or ":=" in args[0]:
            return sql  # recursive/struct unnest options: out of scope
        if _UNNEST_CALL.search(args[0]):
            return sql  # nested unnest(unnest(…)): DuckDB rejects too
        alias_m = _UNNEST_ALIAS.match(rest) if rest.strip() else None
        if rest.strip() and alias_m is None:
            # leading unnest with trailing expression text — e.g.
            # ``unnest(a) + 1`` or ``unnest(a) + unnest(b) AS v`` — is
            # an embedded expression, not a whole item
            sub = _substitute_embedded(item)
            if sub is None:
                return sql
            embedded_any = True
            out_items.append(sub.strip())
            continue
        if alias_m:
            alias = alias_m.group(1) or alias_m.group(2)
        else:
            alias = item.strip().replace("`", "")
        idx = len(unnest_args)
        unnest_args.append(args[0])
        out_items.append(f"__unn['__u{idx}'] AS `{alias}`")
    if len(unnest_args) < 2 and not embedded_any and not window_defs:
        # a single whole-item unnest stays with the cheaper explode
        # rewrite (no subquery wrap) in _rewrite_single_unnest; a
        # hoisted window forces the wrap even for one site (the
        # pre-unnest evaluation needs the inner projection)
        return sql
    helpers = ", ".join(
        [f"__u{i}" for i in range(len(unnest_args))]
        + [f"__w{i}" for i in range(len(window_defs))]
        + ["__unn"]
    )
    for slot, existing in star_slots:
        merged = f"{existing}, {helpers}" if existing else helpers
        out_items[slot] = f"* EXCEPT ({merged})"
    outer_alias = ""
    if qstar_slots:
        alias = _single_relation_alias(tail)
        if alias is None:
            return sql  # join / subquery / alias-less function: loud
        for slot, qual, existing in qstar_slots:
            if qual.strip('"`').lower() != alias.lower():
                return sql  # qualifier isn't the FROM relation: loud
            merged = f"{existing}, {helpers}" if existing else helpers
            out_items[slot] = f"`{alias}`.* EXCEPT ({merged})"
        outer_alias = f" AS `{alias}`"
    defs = ", ".join(
        [
            f"coalesce(({a}), array()) AS __u{i}"
            for i, a in enumerate(unnest_args)
        ]
        + window_defs
    )
    zipped = ", ".join(f"__u{i}" for i in range(len(unnest_args)))
    inner1 = f"SELECT *, {defs} {tail}" if tail else f"SELECT {defs}"
    inner2 = f"SELECT *, explode(arrays_zip({zipped})) AS __unn FROM ({inner1})"
    return (
        f"SELECT {distinct_kw}{', '.join(out_items)} FROM ({inner2})"
        f"{outer_alias} {suffix}"
    ).rstrip()


def _rewrite_unnest_set_ops(sql: str, spark=None) -> str:
    """Unnest inside set-operation arms (round 8): each arm of a
    top-level ``UNION [ALL] [BY NAME]`` / ``INTERSECT`` / ``EXCEPT``
    chain unnests INDEPENDENTLY in DuckDB (probed:
    ``SELECT unnest([1,2]) UNION ALL SELECT unnest([3])`` → 1,2,3;
    DISTINCT set ops dedupe post-unnest; a trailing ORDER BY/LIMIT
    binds to the whole set-op result, probed with the asymmetric
    ``… ORDER BY x LIMIT 3`` case). The statement splits on the
    top-level set operators, each arm goes through the zip/explode
    rewrites on its own, the operators are preserved verbatim, and the
    last arm's trailing top-level ORDER/LIMIT/OFFSET is split off
    FIRST so it stays bound to the whole chain (rewriting it into the
    last arm's subquery would silently make it arm-local — the exact
    wrongness class this pass exists to avoid). Arms the per-arm
    rewrites can't prove stay verbatim: any remaining ``unnest`` is an
    unresolved routine for Spark, so unprovable shapes fail loud,
    never half-rewritten silently."""
    if not _UNNEST_CALL.search(lexer.mask(sql)):
        return sql
    if re.match(r"(?is)^\s*WITH\b", sql):
        sel_idx, _ = lexer.find_top_level(sql, ("select",))
        if sel_idx <= 0:
            return sql
        body = _rewrite_unnest_set_ops(sql[sel_idx:])
        return sql if body == sql[sel_idx:] else sql[:sel_idx] + body

    def rewrite(arm: str) -> str:
        r = _rewrite_multi_unnest(arm)
        return _rewrite_single_unnest(arm) if r == arm else r

    out = _rewrite_set_op_arms(sql, rewrite)
    return sql if out is None else out


def _rewrite_set_op_arms(sql: str, rewrite) -> str | None:
    """``rewrite`` applied to each arm of a top-level set-operation
    chain on its own, the operators kept verbatim and a trailing
    top-level ORDER/LIMIT/OFFSET split off first, so it stays bound to
    the whole chain. None when ``sql`` is no such chain; ``sql`` itself
    when no arm changed."""
    ops: list[tuple[int, int]] = []
    pos = 0
    while True:
        idx, _word = lexer.find_top_level(
            sql, ("union", "intersect", "except"), pos
        )
        if idx < 0:
            break
        # a projection `* EXCEPT (cols)` (the EXCLUDE pass's output,
        # which runs BEFORE them) is not a set operator — splitting
        # on it would detach select-list items from their FROM and, for
        # items with window functions, silently change evaluation scope
        if not _is_set_op_at(sql, idx, _word):
            pos = idx + len(_word)
            continue
        om = re.match(
            r"(?is)(union|intersect|except)"
            r"(\s+all|\s+distinct)?(\s+by\s+name)?",
            sql[idx:],
        )
        ops.append((idx, idx + om.end()))
        pos = idx + om.end()
    if not ops:
        return None
    arms: list[str] = []
    last = 0
    for s0, _e0 in ops:
        arms.append(sql[last:s0])
        last = _e0
    tail_arm = sql[last:]
    suffix = ""
    b_idx, _bw = lexer.find_top_level(tail_arm, ("order", "limit", "offset"))
    if b_idx >= 0:
        suffix = tail_arm[b_idx:]
        tail_arm = tail_arm[:b_idx]
    arms.append(tail_arm)
    new_arms = [rewrite(arm) for arm in arms]
    if new_arms == arms:
        return sql
    out = new_arms[0].strip()
    for (s0, e0), arm in zip(ops, new_arms[1:]):
        out += " " + sql[s0:e0] + " " + arm.strip()
    return out + (" " + suffix if suffix else "")


def _call_args(sql: str, open_paren: int) -> tuple[list[str], int] | None:
    """Top-level argument list of the call whose ``(`` sits at
    ``open_paren``; returns (args, index_after_close) or None when the
    parens never balance."""
    i = lexer.group_end(sql, open_paren)
    if i is None:
        return None
    raw = sql[open_paren + 1: i - 1].strip()
    return ([a.strip() for a in lexer.split_top_level(raw)] if raw else []), i


# ---------------------------------------------------------------------
# unnest(recursive := true) and struct unnest (round 8).

_UNNEST_FLAG = re.compile(r"(?is)^\s*(recursive|max_depth)\s*:=\s*(.+?)\s*$")
_TRUE_SPELLINGS = frozenset({"true", "1", "'t'"})
_FALSE_SPELLINGS = frozenset({"false", "0", "'f'"})

def _probe_schema(head: str, probe_prefix: str, tail: str, spark):
    """ANALYZE (never execute) ``{prefix}SELECT {head} {tail}`` and
    return its Spark schema; ``None`` when unprovable. The probe text
    gets the read-function / bare-path relation rewrites the full
    pipeline would apply later, so a ``FROM read_parquet('…')`` context
    still types; ``*_auto`` sources need session-view substitution and
    bail to None. Results are memoized per session keyed by the probe
    text — transpiling the same statement again (bench loops, repeated
    models) pays zero analysis calls."""
    if spark is None:
        return None
    probe = f"{probe_prefix}SELECT {head} {tail}".strip()
    if re.search(r"(?i)\bread_(?:csv_auto|json_auto)\s*\(", probe):
        return None
    # the probe runs MID-pipeline: apply the text-level passes that
    # normally run after the unnest stage so a prefix/tail containing
    # string_split / QUALIFY / DISTINCT ON / ASOF / SAMPLE / file
    # relations still ANALYZES (any residue that still fails simply
    # returns None — the statement then stays whole and loud)
    from arnab_spark.dialect import PROBE_PASSES

    for rewrite in PROBE_PASSES:
        probe = rewrite(probe, spark)
    cache = state_for(spark).probe_cache
    if probe in cache:
        return cache[probe]
    try:
        sch = spark.sql(probe).schema
    except Exception:
        sch = None
    cache[probe] = sch
    return sch


def _probe_expr_type(arg: str, probe_prefix: str, tail: str, spark):
    """Spark DataType of ``arg`` in the statement's FROM context
    (see :func:`_probe_schema`); ``None`` when unprovable."""
    sch = _probe_schema(f"({arg}) AS __arnab_probe", probe_prefix, tail, spark)
    return sch[0].dataType if sch is not None else None


def _flatten_wrap(arg: str, times: int) -> str:
    """``times`` levels of NULL-sublist-dropping flatten around ``arg``.
    DuckDB's recursive unnest DROPS a NULL sublist (probed:
    ``unnest([[1,2],NULL,[3]], recursive := true)`` → 1,2,3) while
    Spark's ``flatten`` returns NULL for the whole array when any
    element is NULL — hence the ``filter`` strip at every level."""
    w = f"({arg})"
    for _ in range(times):
        w = f"flatten(filter({w}, __arnab_f -> __arnab_f IS NOT NULL))"
    return w


