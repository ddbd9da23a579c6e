"""Explicit physical-plan constructors: 2D edge blocking and the web-graph pipeline."""
