"""Imaging sources: PNG/TIFF codecs, stack listing, acquisition metadata."""
