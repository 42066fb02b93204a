"""Operator package: the DataFrame operators the registered queries compose."""
