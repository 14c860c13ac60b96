"""Seeded, layer-split benchmark for xorfilter_net_spark (see ../README.md)."""
