"""Sensor register decode functions: signed N-bit, BCD, hex, calibration.

Parity targets: reference `src/util/math/MathUtils.java:1133-1205,
1339-1427` and `src/util/tools/Tools.java:238-331`. All pure column
expressions (bitwise ops + conv), codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def signed_nbit(value: Column, bits: int) -> Column:
    """Interpret the low `bits` of an unsigned int as two's-complement
    signed (reference toSigned8/10/12/16/20/24bit,
    MathUtils.java:1133-1205)."""
    mask = (1 << bits) - 1
    sign = 1 << (bits - 1)
    v = value.bitwiseAND(F.lit(mask))
    return F.when(v.bitwiseAND(F.lit(sign)) != 0, v - (mask + 1)).otherwise(v)


def hex_to_int(hexstr: Column) -> Column:
    """'0x1A2B' or '1A2B' hex string → long (Tools.java:238-331)."""
    clean = F.regexp_replace(F.upper(hexstr), "^0X", "")
    return F.conv(clean, 16, 10).cast("long")


def bcd_to_int(value: Column) -> Column:
    """Packed BCD byte value → int: 0x25 → 25
    (MathUtils.fromBcdPressure-style decode)."""
    return (F.shiftright(value, 4).bitwiseAND(F.lit(0xF))) * 10 + value.bitwiseAND(F.lit(0xF))


def int_to_bcd(value: Column) -> Column:
    """int (<100) → packed BCD byte: 25 → 0x25."""
    return F.shiftleft((value / 10).cast("int"), 4).bitwiseOR((value % 10).cast("int"))


def byte_at(data: Column, pos: int) -> Column:
    """1-based unsigned byte from a BinaryType column (I2C register
    reply decode — reference I2CCommand READ ops over raw replies,
    `src/io/hardware/i2c/I2CCommand.java:22`). substring works on
    binary; hex→conv keeps it a pure Catalyst expression."""
    return F.conv(F.hex(F.substring(data, pos, 1)), 16, 10).cast("int")


def u16_be(data: Column, pos: int = 1) -> Column:
    """Big-endian unsigned 16-bit at 1-based byte offset."""
    return F.conv(F.hex(F.substring(data, pos, 2)), 16, 10).cast("int")


def s16_be(data: Column, pos: int = 1) -> Column:
    """Big-endian signed 16-bit (two's complement) at offset."""
    return signed_nbit(u16_be(data, pos), 16)


def u16_le(data: Column, pos: int = 1) -> Column:
    """Little-endian unsigned 16-bit (modbus word order variant)."""
    return byte_at(data, pos) + byte_at(data, pos + 1) * 256


def calibrate_2nd_order(x: Column, a: float, b: float, c: float, decimals: int = 8) -> Column:
    """a·x² + b·x + c calibration (MathUtils.calc2ndOrder,
    MathUtils.java:1339-1374)."""
    return F.round(a * x * x + b * x + c, decimals)

