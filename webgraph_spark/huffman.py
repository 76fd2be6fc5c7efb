"""Canonical length-limited Huffman coding over Zuckerli hybrid-integer
tokens (reference O24-O26).

Semantics follow the reference implementation exactly:

  * length assignment: quadratic package-merge / coin-collector with a
    hard 8-bit cap            (ref src/huffman_zuckerli/huffman_encoder.rs:28-109)
  * canonical bit assignment: symbols sorted by (length, symbol id),
    codes count upward, shifting left at each length increase
                              (ref src/huffman_zuckerli/mod.rs:15-43)
  * header: 8-bit max present symbol, then per symbol 1 presence bit
    and, if present, 3 bits storing length-1
                              (ref huffman_encoder.rs:113-131, huffman_decoder.rs:29-41)
  * values are carried as Zuckerli hybrid ints: the Huffman symbol is
    the (token) of zuck_split(value); the nbits tail rides raw after
    the code word (ref huffman_encoder.rs write_next / decoder read_next)

A stream is self-describing per context set: `HuffmanEncoder.init`
writes every context's header, then `write_next(value, ctx)` emits
code+tail; `HuffmanDecoder.decode_headers` + `read_next(ctx)` invert
it. Contexts are just integers — the Zuckerli/hybrid context layouts
live in the callers (bvgraph_huffman.py).
"""

from __future__ import annotations

from webgraph_spark.bvgraph import (
    BitReader,
    BitWriter,
    I_ZUCK,
    J_ZUCK,
    K_ZUCK,
    zuck_join,
    zuck_split,
)

K_MAX_HUFFMAN_BITS = 8
K_NUM_SYMBOLS = 256


def compute_symbol_num_bits(histo: list[int]) -> list[int]:
    """Package-merge length-limited code lengths (quadratic variant,
    ref huffman_encoder.rs:28-109). histo[symbol] -> count; returns
    nbits[symbol] (0 for absent symbols). A lone symbol gets length 1.
    """
    present = [s for s, c in enumerate(histo) if c > 0]
    nbits = [0] * len(histo)
    if not present:
        return nbits
    if len(present) == 1:
        nbits[present[0]] = 1
        return nbits
    # bags[i]: list of (cost, [symbols]) available at bit-length i+1
    bags: list[list[tuple[int, list[int]]]] = [
        [(histo[s], [s]) for s in present] for _ in range(K_MAX_HUFFMAN_BITS)
    ]
    for i in range(K_MAX_HUFFMAN_BITS - 1):
        bags[i].sort()
        j = 0
        while j + 1 < len(bags[i]):
            cost = bags[i][j][0] + bags[i][j + 1][0]
            bags[i + 1].append((cost, bags[i][j][1] + bags[i][j + 1][1]))
            j += 2
    bags[-1].sort()
    for cost, syms in bags[-1][: 2 * len(present) - 2]:
        for s in syms:
            nbits[s] += 1
    # Kraft check: sum of 2^-len == 1. Raised, not asserted — under
    # python -O an assert is stripped and a bad histogram path would
    # silently emit undecodable Huffman headers far from the cause
    # (ADVICE r3).
    kraft = sum(1 << (K_MAX_HUFFMAN_BITS - nbits[s]) for s in present)
    if kraft != (1 << K_MAX_HUFFMAN_BITS):
        raise ValueError(
            f"package-merge produced a non-complete code: Kraft sum "
            f"{kraft} != {1 << K_MAX_HUFFMAN_BITS} over {len(present)} symbols"
        )
    return nbits


def compute_symbol_bits(nbits: list[int]) -> list[int]:
    """Canonical code values from lengths (ref mod.rs:15-43): sort
    present symbols by (length, id), count up, left-shift on length
    increase."""
    syms = sorted((nb, s) for s, nb in enumerate(nbits) if nb > 0)
    bits = [0] * len(nbits)
    x = 0
    for k, (nb, s) in enumerate(syms):
        bits[s] = x
        x += 1
        if k + 1 != len(syms):
            x <<= syms[k + 1][0] - nb
    return bits


class HuffmanEncoder:
    """Per-context canonical Huffman writer over zuck tokens."""

    def __init__(self) -> None:
        self._nbits: dict[int, list[int]] = {}
        self._bits: dict[int, list[int]] = {}

    @staticmethod
    def histograms(per_context_values: list[list[int]]) -> list[list[int]]:
        """Per-context token histograms — the ONLY pass-1 statistic the
        code construction needs, and therefore the unit that merges
        across parallel encode ranges (plain elementwise sum)."""
        out = []
        for values in per_context_values:
            histo = [0] * K_NUM_SYMBOLS
            for v in values:
                token = zuck_split(v, K_ZUCK, I_ZUCK, J_ZUCK)[0]
                if token >= K_NUM_SYMBOLS:
                    # same u8 symbol cap as the reference (mod.rs:5-6):
                    # tokens cover values < ~2^33 — beyond any gap a
                    # sub-8-billion-node graph can produce
                    raise ValueError(f"value {v} exceeds the Huffman token range")
                histo[token] += 1
            out.append(histo)
        return out

    def build_tables(self, histograms) -> None:
        """Deterministic histogram -> canonical-code tables; executors
        rebuild identical tables from the broadcast merged histograms
        (no code-table serialization needed)."""
        for ctx, histo in enumerate(histograms):
            nbits = compute_symbol_num_bits(list(histo))
            self._nbits[ctx] = nbits
            self._bits[ctx] = compute_symbol_bits(nbits)

    def write_headers(self, w: BitWriter) -> None:
        """All context headers in context order (ref
        huffman_encoder.rs:133-153): 8-bit max symbol, then presence
        bit + 3-bit (len-1) per symbol."""
        for ctx in range(len(self._nbits)):
            nbits = self._nbits[ctx]
            ms = 0
            for s, nb in enumerate(nbits):
                if nb > 0:
                    ms = s
            w.push_bits(ms, 8)
            for s in range(ms + 1):
                if nbits[s] > 0:
                    w.push_bits(1, 1)
                    w.push_bits(nbits[s] - 1, 3)
                else:
                    w.push_bits(0, 1)

    def init(self, per_context_values: list[list[int]], w: BitWriter) -> None:
        """Pass-1 output: build each context's code from the token
        histogram of its values and write all headers (in context
        order) to the stream (ref huffman_encoder.rs:133-153)."""
        self.build_tables(self.histograms(per_context_values))
        self.write_headers(w)

    def write_next(self, value: int, w: BitWriter, ctx: int) -> None:
        token, tail_bits, tail = zuck_split(value, K_ZUCK, I_ZUCK, J_ZUCK)
        nb = self._nbits[ctx][token]
        if nb <= 0:  # ValueError, not assert: must survive python -O
            raise ValueError(f"token {token} absent from context {ctx}")
        w.push_bits(self._bits[ctx][token], nb)
        w.push_bits(tail, tail_bits)


class HuffmanDecoder:
    """Per-context canonical Huffman reader (ref huffman_decoder.rs)."""

    def __init__(self) -> None:
        # tables[ctx][(length, code)] = symbol — keyed by BOTH length
        # and value: canonical codes are prefix-free but code VALUES can
        # coincide across lengths
        self.tables: dict[int, dict[tuple[int, int], int]] = {}
        # lengths[ctx] = code length of each symbol (0 = absent), one
        # byte per symbol — what vectorised table builders read
        self.lengths: dict[int, bytes] = {}

    def decode_headers(self, r: BitReader, num_contexts: int) -> None:
        for ctx in range(num_contexts):
            ms = r.read_int(8)
            nbits = [0] * K_NUM_SYMBOLS
            for s in range(ms + 1):
                if r.read_int(1):
                    nbits[s] = r.read_int(3) + 1
            self.lengths[ctx] = bytes(nbits)
            bits = compute_symbol_bits(nbits)
            self.tables[ctx] = {
                (nbits[s], bits[s]): s for s in range(K_NUM_SYMBOLS) if nbits[s]
            }

    def read_next(self, r: BitReader, ctx: int) -> int:
        tbl = self.tables[ctx]
        code = 0
        for ln in range(1, K_MAX_HUFFMAN_BITS + 1):
            code = (code << 1) | r.read_int(1)
            sym = tbl.get((ln, code))
            if sym is not None:
                if sym < (1 << K_ZUCK):
                    return sym
                nbits = K_ZUCK - (I_ZUCK + J_ZUCK) + (
                    (sym - (1 << K_ZUCK)) >> (I_ZUCK + J_ZUCK)
                )
                return zuck_join(sym, r.read_int(nbits), K_ZUCK, I_ZUCK, J_ZUCK)
        raise ValueError(f"malformed Huffman code in context {ctx}")
