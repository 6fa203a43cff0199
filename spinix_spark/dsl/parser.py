"""Recursive-descent parser for the rule DSL.

Grammar, precedence climbing (with the rebalance-on-equal-precedence
rule), object/device literal forms, list vs range literals, and the
props block replicate the reference parser's accept/reject behavior
(/root/reference/parser.go; golden corpus parser_test.go:9-161 is
replayed in tests/test_dsl.py).
"""

from __future__ import annotations

import re

from spinix_spark.dsl import ast_nodes as ast
from spinix_spark.dsl.scanner import Scanner
from spinix_spark.dsl.tokens import Token, is_keyword, is_operator, precedence


class ParseError(ValueError):
    def __init__(self, tok: Token, lit: str, pos: int, msg: str) -> None:
        super().__init__(
            f"spinix/parser: parsing error got={tok}, lit={lit}, pos={pos} {msg}"
        )
        self.tok = tok
        self.lit = lit
        self.pos = pos
        self.msg = msg


_XID_CHARS = frozenset("0123456789abcdefghijklmnopqrstuv")


def is_xid(s: str) -> bool:
    """rs/xid 20-char base32hex id (parser refs are parsed via
    xid.FromString, parser.go:514-537)."""
    return len(s) == 20 and all(c in _XID_CHARS for c in s)


_DUR_RE = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)")

_DUR_UNITS = {
    "ns": 1e-9,
    "us": 1e-6,
    "µs": 1e-6,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}


def parse_go_duration(s: str) -> float:
    """Go ``time.ParseDuration`` subset → seconds ("5m0s", "24h", "10s")."""
    if not s:
        raise ValueError("empty duration")
    if s in ("0", "+0", "-0"):
        return 0.0
    neg = False
    if s[0] in "+-":
        neg = s[0] == "-"
        s = s[1:]
    pos = 0
    total = 0.0
    while pos < len(s):
        m = _DUR_RE.match(s, pos)
        if m is None:
            raise ValueError(f"invalid duration {s!r}")
        total += float(m.group(1)) * _DUR_UNITS[m.group(2)]
        pos = m.end()
    return -total if neg else total


_RFC3339_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})(\.\d+)?(Z|[+-]\d{2}:\d{2})$"
)
_DATE_RE = re.compile(r"^(\d{4})-(\d{2})-(\d{2})$")


def parse_rfc3339_unix(s: str) -> int:
    """RFC3339 → unix seconds; raises on mismatch (layout time.RFC3339)."""
    m = _RFC3339_RE.match(s)
    if m is None:
        raise ValueError(f"invalid RFC3339 datetime {s!r}")
    import calendar

    y, mo, d, h, mi, sec = (int(m.group(i)) for i in range(1, 7))
    if mo < 1 or mo > 12 or d < 1 or d > 31 or h > 23 or mi > 59 or sec > 60:
        raise ValueError(f"invalid RFC3339 datetime {s!r}")
    ts = calendar.timegm((y, mo, d, h, mi, sec, 0, 0, 0))
    off = m.group(8)
    if off != "Z":
        sign = 1 if off[0] == "+" else -1
        ts -= sign * (int(off[1:3]) * 3600 + int(off[4:6]) * 60)
    return ts


def parse_date_unix(s: str) -> int:
    """``2006-01-02`` layout → unix seconds at midnight UTC."""
    m = _DATE_RE.match(s)
    if m is None:
        raise ValueError(f"invalid date {s!r}")
    import calendar

    y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if mo < 1 or mo > 12 or d < 1 or d > 31:
        raise ValueError(f"invalid date {s!r}")
    return calendar.timegm((y, mo, d, 0, 0, 0, 0, 0, 0))


def _attach(expr: ast.Expr, operator: Token, rhs: ast.Expr) -> ast.Expr:
    """``expr operator rhs`` with the precedence rebalance of
    parser.go:63-72 applied down the right spine: a binary node whose
    operator binds no tighter than ``operator`` keeps its LHS and takes
    the new operator into its RHS, so ``a gt 3 and b gt 4 and c gt 5``
    folds to three comparisons (the reference steals one level only)."""
    if isinstance(expr, ast.BinaryExpr) and precedence(expr.op) <= precedence(operator):
        return ast.BinaryExpr(lhs=expr.lhs, rhs=_attach(expr.rhs, operator, rhs), op=expr.op)
    return ast.BinaryExpr(lhs=expr, rhs=rhs, op=operator)


class Parser:
    def __init__(self, spec: str) -> None:
        self.s = Scanner(spec)

    # --- top level -----------------------------------------------------

    def parse(self) -> ast.Expr:
        expr = self.parse_expr()
        while True:
            operator, literal = self.s.next()
            if operator is Token.ILLEGAL:
                raise ParseError(operator, literal, self.s.offset, "ILLEGAL")
            if operator is Token.LBRACE:
                self.s.reset()
                return self.parse_props(expr)
            if (not is_operator(operator) and not is_keyword(operator)) or (
                operator is Token.EOF
            ):
                self.s.reset()
                return expr
            expr = _attach(expr, operator, self.parse_expr())

    # --- props ---------------------------------------------------------

    def parse_props(self, expr: ast.Expr) -> ast.Expr:
        props = (
            expr
            if isinstance(expr, ast.PropExpr)
            else ast.PropExpr(expr=expr, props=[])
        )
        while True:
            tok, lit = self.s.next()
            if tok is Token.LBRACE:
                continue
            if tok in (Token.EOF, Token.RBRACE):
                break
            if tok is Token.LAYER:
                prop = self.parse_layer_prop()
            elif tok is Token.EXPIRE:
                prop = self.parse_expire_prop()
            elif tok is Token.RADIUS:
                prop = self.parse_radius_prop()
            elif tok is Token.CENTER:
                prop = self.parse_center_prop()
            elif tok is Token.TRIGGER:
                prop = self.parse_trigger_prop()
            elif tok is Token.RESET:
                prop = self.parse_reset_prop()
            else:
                raise ParseError(tok, lit, self.s.offset, "ILLEGAL")
            if prop is not None:
                props.props.append(prop)
        return props

    def parse_layer_prop(self) -> ast.Expr:
        tok, lit = self.s.next()
        if tok not in (Token.IDENT, Token.STRING, Token.ILLEGAL):
            raise ParseError(tok, lit, self.s.offset, f"got {tok}, expected STRING")
        if not is_xid(lit):
            raise ParseError(tok, lit, self.s.offset, "invalid xid")
        return ast.IDLit(kind=Token.LAYER, value=lit, pos=self.s.offset)

    def parse_expire_prop(self) -> ast.Expr:
        dur = self.parse_time_duration()
        return ast.BaseLit(
            kind=Token.EXPIRE,
            expr=ast.DurationLit(kind=Token.DURATION, value=dur, pos=self.s.offset),
            pos=self.s.offset,
        )

    def parse_radius_prop(self) -> ast.Expr:
        dist = self.parse_distance_lit()
        return ast.BaseLit(kind=Token.RADIUS, expr=dist, pos=self.s.offset)

    def parse_distance_lit(self) -> ast.Expr:
        tok, valstr = self.s.next()
        if tok is not Token.INT:
            raise ParseError(tok, valstr, self.s.offset, f"got {tok}, expected INT")
        tok2, unitstr = self.s.next()
        if tok2 is not Token.ILLEGAL:
            raise ParseError(tok2, unitstr, self.s.offset, f"got {tok2}, expected unit")
        try:
            value = float(valstr)
        except ValueError as e:
            raise ParseError(tok, valstr, self.s.offset, str(e)) from None
        unit = unitstr.lower()
        if unit == "km":
            u = ast.DISTANCE_KILOMETERS
        elif unit == "m":
            u = ast.DISTANCE_METERS
        else:
            raise ParseError(tok2, unitstr, self.s.offset, "expected [km, m]")
        return ast.DistanceLit(unit=u, value=value, pos=self.s.offset)

    def parse_center_prop(self) -> ast.Expr:
        coords: list[str] = []
        for _ in range(2):
            tok, lit = self.s.next()
            if tok not in (Token.FLOAT, Token.SUB):
                raise ParseError(tok, lit, self.s.offset, "ILLEGAL")
            if tok is Token.SUB:
                tok2, value = self.s.next()
                if tok2 is not Token.FLOAT:
                    raise ParseError(tok2, lit, self.s.offset, "ILLEGAL")
                lit = "-" + value
            coords.append(lit)
        try:
            latf = float(coords[0])
            lonf = float(coords[1])
        except ValueError as e:
            raise ParseError(Token.CENTER, ":center", self.s.offset, str(e)) from None
        return ast.PointLit(lat=latf, lon=lonf, kind=Token.CENTER, pos=self.s.offset)

    def parse_trigger_prop(self) -> ast.Expr:
        tok, lit = self.s.next()
        trig = ast.TriggerLit()
        if tok is Token.INT:
            # 25 times interval 10s
            try:
                times = int(lit)
            except ValueError as e:
                raise ParseError(Token.TRIGGER, lit, self.s.offset, str(e)) from None
            nxt = self.s.next_lit()
            if nxt != "times":
                raise ParseError(
                    Token.TRIGGER, nxt, self.s.offset, f"got {nxt}, expected times"
                )
            nxt = self.s.next_lit()
            if nxt != "interval":
                raise ParseError(
                    Token.TRIGGER, nxt, self.s.offset, f"got {nxt}, expected interval"
                )
            trig.repeat = ast.REPEAT_TIMES
            trig.interval = self.parse_time_duration()
            trig.times = times
        elif tok is Token.ILLEGAL:
            # every 10s | once
            if lit == "once":
                trig.repeat = ast.REPEAT_ONCE
            elif lit == "every":
                trig.repeat = ast.REPEAT_EVERY
                trig.value = self.parse_time_duration()
        else:
            raise ParseError(tok, lit, self.s.offset, "ILLEGAL")
        trig.pos = self.s.offset
        return trig

    def parse_reset_prop(self) -> ast.Expr:
        tok = self.s.next_tok()
        if tok is not Token.AFTER:
            raise ParseError(
                Token.RESET, ":reset", self.s.offset, "expected [:reset after 24h]"
            )
        dur = self.parse_time_duration()
        return ast.ResetLit(kind=Token.RESET, after=dur, pos=self.s.offset)

    def parse_time_duration(self) -> float:
        parts = ""
        while True:
            tok, lit = self.s.next()
            if tok is Token.EOF:
                break
            if tok is Token.ILLEGAL:
                parts += lit
                break
            if tok is Token.INT:
                parts += lit
            else:
                # non-INT/ILLEGAL tokens are skipped by the reference's
                # loop until EOF/ILLEGAL; m/s/h suffixes arrive as
                # ILLEGAL idents. Tokens like `}` would be silently
                # consumed by the reference too — replicate by
                # continuing (matching its switch with no default).
                continue
        try:
            return parse_go_duration(parts)
        except ValueError as e:
            raise ParseError(Token.DURATION, parts, self.s.offset, str(e)) from None

    # --- expressions ---------------------------------------------------

    def parse_expr(self) -> ast.Expr:
        tok, lit = self.s.next()
        if tok is Token.LPAREN:
            return self.parse_paren_expr()
        if tok is Token.INT:
            return self.parse_int_or_time_lit(lit)
        if tok is Token.FLOAT:
            return self.parse_float_lit(lit)
        if tok is Token.STRING:
            return ast.StringLit(value=lit.strip('"'), pos=self.s.offset)
        if tok is Token.LBRACK:
            return self.parse_list_or_range_lit()
        if tok is Token.DEVICE:
            return self.parse_device_lit()
        if tok is Token.DEVICES:
            return self.parse_devices_lit()
        if tok in (
            Token.OBJECTS,
            Token.POLY,
            Token.MULTI_POLY,
            Token.LINE,
            Token.MULTI_LINE,
            Token.POINT,
            Token.MULTI_POINT,
            Token.RECT,
            Token.CIRCLE,
            Token.COLLECTION,
            Token.FUT_COLLECTION,
        ):
            return self.parse_object_lit(tok)
        if tok in (
            Token.FUELLEVEL,
            Token.PRESSURE,
            Token.LUMINOSITY,
            Token.HUMIDITY,
            Token.TEMPERATURE,
            Token.BATTERY_CHARGE,
            Token.STATUS,
            Token.SPEED,
            Token.MODEL,
            Token.BRAND,
            Token.OWNER,
            Token.IMEI,
            Token.YEAR,
            Token.MONTH,
            Token.WEEK,
            Token.DAY,
            Token.HOUR,
            Token.TIME,
            Token.DATETIME,
            Token.DATE,
        ):
            return ast.IdentLit(name=lit, pos=self.s.offset, kind=tok)
        raise ParseError(tok, lit, self.s.offset, "ILLEGAL")

    def parse_paren_expr(self) -> ast.Expr:
        expr = self.parse()
        tok, _ = self.s.next()
        if tok is not Token.RPAREN:
            raise ParseError(tok, "", self.s.offset, "missing )")
        return ast.ParenExpr(expr=expr)

    def parse_devices_lit(self) -> ast.Expr:
        obj = self.parse_object_lit(Token.DEVICES)
        devices = ast.DevicesLit(all=obj.all, refs=list(obj.refs))
        tok = self.s.next_tok()
        if tok is Token.BBOX:
            devices.kind = Token.BBOX
        elif tok is Token.RADIUS:
            devices.kind = Token.RADIUS
        else:
            devices.pos = self.s.offset
            self.s.reset()
            return devices
        devices.unit, devices.value = self.parse_distance_unit()
        devices.pos = self.s.offset
        return devices

    def parse_list_or_range_lit(self) -> ast.Expr:
        lst = ast.ListLit()
        i = -1
        while True:
            i += 1
            tok, lit = self.s.next()
            if tok is Token.RBRACK:
                if not lst.items:
                    raise ParseError(
                        Token.ILLEGAL, "[]", self.s.offset, "expected one or more value"
                    )
                if lst.kind is Token.RANGE and len(lst.items) != 2:
                    raise ParseError(
                        lst.kind, lit, self.s.offset, "missing start or end value"
                    )
                lst.pos = self.s.offset
                return lst
            if tok is Token.PERIOD and (i <= 0 or i > 2):
                raise ParseError(lst.kind, "...", self.s.offset, "expected [start .. end]")
            if tok is Token.INT:
                if lst.typ is None:
                    lst.typ = Token.INT
                elif lst.typ not in (Token.INT, Token.TIME):
                    raise ParseError(tok, lit, self.s.offset, f"expected {lst.typ} literal")
                val = self.parse_int_or_time_lit(lit)
                if isinstance(val, ast.IntLit):
                    lst.typ = Token.INT
                else:
                    lst.typ = Token.TIME
                lst.items.append(val)
            elif tok is Token.FLOAT:
                if lst.typ is None:
                    lst.typ = Token.FLOAT
                elif lst.typ is not Token.FLOAT:
                    raise ParseError(tok, lit, self.s.offset, f"expected {lst.typ} literal")
                lst.items.append(self.parse_float_lit(lit))
            elif tok in (Token.STRING, Token.ILLEGAL):
                if lst.typ is None:
                    lst.typ = Token.STRING
                elif lst.typ is not Token.STRING:
                    raise ParseError(tok, lit, self.s.offset, f"expected {lst.typ} literal")
                lst.items.append(ast.StringLit(value=lit.strip('"')))
            elif tok is Token.COMMA:
                pass
            elif tok is Token.PERIOD:
                lst.kind = Token.RANGE
            elif tok is Token.EOF:
                raise ParseError(tok, lit, self.s.offset, "missing ]")

    def parse_object_lit(self, kind: Token) -> ast.ObjectLit:
        lparen, _ = self.s.next()
        if lparen is not Token.LPAREN:
            raise ParseError(kind, "", self.s.offset, "missing (")
        obj = ast.ObjectLit(kind=kind, refs=[])
        unique: set[str] = set()
        while True:
            tok, lit = self.s.next()
            if tok is Token.ILLEGAL:
                tok = Token.IDENT
            if tok is Token.VAR_IDENT:
                obj.all = True
                continue
            if tok is Token.COMMA:
                continue
            bad = tok is Token.EOF or tok not in (
                Token.RPAREN,
                Token.VAR_IDENT,
                Token.COMMA,
                Token.IDENT,
                Token.INT,
                Token.FLOAT,
                Token.STRING,
            )
            if bad:
                raise ParseError(tok, lit, self.s.offset, "args error")
            if tok not in (Token.RPAREN, Token.IDENT, Token.STRING, Token.INT):
                raise ParseError(tok, lit, self.s.offset, "missing token")
            if tok is Token.RPAREN:
                if not obj.refs and not obj.all:
                    raise ParseError(tok, lit, self.s.offset, "arguments not found")
                tok2 = self.s.next_tok()
                if tok2 is not Token.COLON:
                    obj.pos = self.s.offset
                    self.s.reset()
                    return obj
                tok3 = self.s.next_tok()
                if tok3 is not Token.TIME:
                    obj.pos = self.s.offset
                    self.s.reset()
                    return obj
                obj.dur_typ, obj.dur_val = self.parse_time_dur()
                obj.pos = self.s.offset
                return obj
            # reference resolution (IDENT | INT | STRING)
            if tok is Token.STRING:
                lit = lit.strip('"')
            if len(lit) == 0:
                raise ParseError(tok, lit, self.s.offset, "literal too short")
            if len(lit) > 512:
                raise ParseError(tok, lit, self.s.offset, "literal too long")
            if lit in unique:
                continue
            unique.add(lit)
            if not is_xid(lit):
                raise ParseError(tok, lit, self.s.offset, "invalid xid")
            obj.refs.append(lit)

    def parse_device_lit(self) -> ast.DeviceLit:
        device = ast.DeviceLit()
        tok = self.s.next_tok()
        if tok is Token.BBOX:
            device.kind = Token.BBOX
        elif tok is Token.RADIUS:
            device.kind = Token.RADIUS
        else:
            device.kind = Token.DEVICE
            device.pos = self.s.offset
            self.s.reset()
            return device
        device.unit, device.value = self.parse_distance_unit()
        device.pos = self.s.offset
        return device

    def parse_time_dur(self) -> tuple[Token, float]:
        tok, lit = self.s.next()
        if tok is Token.DURATION:
            k = Token.DURATION
        elif tok is Token.AFTER:
            k = Token.AFTER
        else:
            raise ParseError(tok, lit, self.s.offset, "missing duration literal")
        return k, self.parse_time_duration()

    def parse_distance_unit(self) -> tuple[str, float]:
        tok, lit = self.s.next()
        r = 0.0
        if tok is Token.FLOAT:
            r = float(lit)
        elif tok is Token.INT:
            try:
                r = float(int(lit, 10))
            except ValueError as e:
                raise ParseError(tok, lit, self.s.offset, str(e)) from None
        if r < 0:
            raise ParseError(tok, lit, self.s.offset, "negative distance")
        unit = self.s.next_lit()
        ul = unit.lower()
        if ul == "m":
            return ast.DISTANCE_METERS, r
        if ul == "km":
            return ast.DISTANCE_KILOMETERS, r
        raise ParseError(tok, unit, self.s.offset, "missing distance unit")

    def parse_int_or_time_lit(self, val: str) -> ast.Expr:
        try:
            v = int(val, 10)
        except ValueError as e:
            raise ParseError(Token.INT, val, self.s.offset, str(e)) from None
        tok = self.s.next_tok()
        if tok is not Token.COLON:
            self.s.reset()
            return ast.IntLit(value=v, pos=self.s.offset)
        tok2, lit2 = self.s.next()
        if tok2 is not Token.INT:
            raise ParseError(tok2, lit2, self.s.offset, "missing INT literal")
        try:
            m = int(lit2, 10)
        except ValueError as e:
            raise ParseError(Token.INT, lit2, self.s.offset, str(e)) from None
        return ast.TimeLit(hour=v, minute=m, pos=self.s.offset)

    def parse_float_lit(self, val: str) -> ast.Expr:
        try:
            return ast.FloatLit(value=float(val), pos=self.s.offset)
        except ValueError as e:
            raise ParseError(Token.FLOAT, val, self.s.offset, str(e)) from None


def parse_spec(spec: str) -> ast.Expr:
    if len(spec) == 0:
        raise ParseError(Token.EOF, "", 0, "specification not defined")
    return Parser(spec).parse()
